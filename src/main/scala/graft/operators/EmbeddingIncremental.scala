package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import VersionedIndex.Log

/** Persisted-corpus semantic-dedup state for EMBEDDINGS — the vector
  * analog of [[IncrementalDedup]]: a corpus's near-dup clusters are
  * computed once ([[initialState]]), then each day's new vectors are
  * admitted against the state ([[admitBatch]]) without ever re-reading
  * or re-pairing the old corpus beyond the LSH buckets the batch
  * touches.
  *
  * Why the admission algebra is exact (the q62 oracle shares q61's SQL
  * verbatim): bucket membership is a per-vector deterministic function,
  * so the LSH candidate relation of the full corpus decomposes over
  * admissions — old-old pairs were candidates when the old vectors were
  * admitted, and every pair involving a new vector shares one of the
  * batch's buckets. Verify is the same fused kernel at the same
  * threshold, and the contracted component fixpoint preserves min
  * labels (every old representative is the MIN vec_id of its members,
  * so min-over-contracted-nodes equals min-over-all-members — the
  * [[IncrementalDedup]] theorem). Incremental-over-any-split therefore
  * equals the batch [[Dedup.embeddingDupClusters]], which the driver
  * oracle pins by hash.
  *
  * Scale shape per admission: bucket the batch (narrow), probe ONLY the
  * touched (table, bucket) groups of the stored bucket relation (a
  * semi-join here; partition pruning on the persisted `grpb=`-partitioned
  * store, exactly like [[graft.streaming.DedupStream]]'s bucketed
  * tiers), kernel-verify batch×(stored∪batch) within those groups
  * (old-old pairs are skipped in the kernel — they were already
  * admitted), then contract through the labels relation (streamed via a
  * broadcast lookup, never shuffled) and run the component fixpoint on
  * the frontier subgraph only. State growth per admission is O(batch):
  * the bucket log appends the batch's rows, labels append the batch's
  * assignments, and only merged clusters relabel.
  *
  * PRECONDITION (as [[IncrementalDedup.admitBatch]]): batch vec_ids are
  * NEW — disjoint from the state's. Content-duplicate re-embeddings
  * under fresh ids are fine; that is the near-dup case this clusters. */
final case class EmbedDedupState(labels: DataFrame, sizes: DataFrame,
                                 buckets: DataFrame)

object EmbeddingIncremental {

  /** (grp, vec_id, embedding) — one row per vector per LSH table, the
    * probe-able bucket relation ([[Dedup.embeddingNearDupsLsh]]'s grid,
    * same plane family so candidates match the batch route exactly). */
  private def bucketRows(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").cast("long"), col("embedding"), posexplode(
        graft.functions.LshFns.lshBuckets(col("embedding"),
          Dedup.nearDupLshWeights, Dedup.NearDupLshPlanes)))
      .select(
        (col("pos").cast("long") * (1L << Dedup.NearDupLshPlanes) + col("col"))
          .as("grp"),
        col("vec_id"), col("embedding"))

  def initialState(emb: DataFrame, threshold: Double = 0.45): EmbedDedupState = {
    val lab = Dedup.embeddingDupClusters(emb, threshold)
    EmbedDedupState(
      labels = lab.select(col("vec_id"), col("cluster_id")),
      sizes = lab.select(col("cluster_id"), col("cluster_size")).distinct(),
      buckets = bucketRows(emb))
  }

  /** Admit one batch of new vectors; returns the grown state. New
    * edges may MERGE existing clusters (a new vector bridging two old
    * clusters relabels the higher-labeled one via the remap join).
    *
    * The returned state's relations are LAZY over the admission's
    * pinned component fixpoint, so an in-memory chain retains one pin
    * pair per admission for the life of the chain (q62 runs one). The
    * persisted path ([[admitDrop]]) materializes its writes and then
    * releases via [[AdmitFrontier.release]] — the analog of the text
    * side's `AdmitDelta.release()`. */
  def admitBatch(state: EmbedDedupState, newVecs: DataFrame,
      threshold: Double = 0.45): EmbedDedupState = {
    val f = admitCore(state, newVecs, threshold)
    applyCore(state, f.newAssign, f.remap, f.newBucketRows)
  }

  /** The admission's frontier-sized outcome — the analog of the text
    * side's [[IncrementalDedup.admitBatchDelta]]: `newAssign`
    * (vec_id, cluster_id) label rows for the batch, `remap`
    * (cluster_id, merged) relabelings of every contracted node, and the
    * batch's bucket rows. Everything a persisted commit needs WITHOUT
    * materializing the grown corpus-sized relations; both newAssign and
    * remap derive from the pinned component fixpoint, so consuming them
    * repeatedly never re-runs the probe. `release` frees the fixpoint's
    * checkpoint pins — call it once every consumer is durable (the
    * returned DataFrames must not be evaluated after). */
  private final case class AdmitFrontier(newAssign: DataFrame,
      remap: DataFrame, newBucketRows: DataFrame, release: () => Unit)

  private def admitCore(state: EmbedDedupState, newVecs: DataFrame,
      threshold: Double,
      precomputedBucketRows: Option[DataFrame] = None): AdmitFrontier = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    // admitDrop hoists the batch's bucket rows so its bucket-segment
    // write can START before this core runs (the write depends only on
    // the batch); the relation is narrow over the pinned batch either way
    val newBucketRows = precomputedBucketRows.getOrElse(bucketRows(newVecs))
    // probe: stored rows in TOUCHED groups only. The touched grp set is
    // collected driver-side — BOUNDED at nTables·2^planes = 4096 values
    // by construction, so this is K-row material like the ANN centroid
    // collects — and pushed as an IN literal filter: over an in-memory
    // state it's a narrow filter (no shuffle, unlike a semi-join); over
    // the persisted grpb-partitioned bucket log ([[admitDrop]]) it
    // statically prunes to the touched partition directories.
    val touchedGrps: Seq[Long] = newBucketRows.select(col("grp")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val storedAll = state.buckets
    // loaded states carry the coarse grpb PARTITION column: its IN
    // filter prunes directories statically; the grp IN filter then
    // prunes row groups via min/max stats on the sorted grp column
    val storedPruned =
      if (storedAll.columns.contains("grpb"))
        storedAll.filter(col("grpb").isin(
          touchedGrps.map(_ % EmbStateBuckets).distinct: _*))
      else storedAll
    val stored = storedPruned.filter(col("grp").isin(touchedGrps: _*))
      .select(col("grp"), col("vec_id"), col("embedding"))
    // per-group kernel over stored∪batch rows, skipping old-old pairs
    // (already admitted); the same fused numerics as the batch route
    val tagged = stored.withColumn("is_new", lit(false))
      .unionByName(newBucketRows.withColumn("is_new", lit(true)))
      .select(col("grp"), col("vec_id"), col("embedding"), col("is_new"))
      .as[(Long, Long, Seq[Float], Boolean)]
    val edgesLazy = tagged.groupByKey(_._1).flatMapGroups { (_, rows) =>
      Dedup.newPairKernel(rows.map { case (_, id, v, isNew) => (id, v, isNew) },
        threshold)
    }.toDF().select(col("vec_a").as("a"), col("vec_b").as("b")).distinct()
    val edges = graft.Checkpoints.pin(edgesLazy)

    // contract endpoints through the persisted labels: old vectors
    // collapse to their cluster representative, new vectors stand for
    // themselves. labels streams through a broadcast lookup
    // ([[IncrementalDedup.repLookup]]) — read once, never shuffled.
    val endpoints = edges.select(col("a").as("doc_id"))
      .union(edges.select(col("b").as("doc_id"))).distinct()
    val reps = graft.Checkpoints.pin(IncrementalDedup.repLookup(
      state.labels.select(col("vec_id").as("doc_id"), col("cluster_id")),
      endpoints))
    val contracted = edges
      .join(reps.select(col("doc_id").as("a"), col("cluster_id").as("rep_a")),
        Seq("a"), "left")
      .join(reps.select(col("doc_id").as("b"), col("cluster_id").as("rep_b")),
        Seq("b"), "left")
      .select(coalesce(col("rep_a"), col("a")).as("a"),
        coalesce(col("rep_b"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // frontier fixpoint: the steady small-batch case keeps it DRIVER-
    // LOCAL (one bounded take materializes the contracted join, the
    // union-find labels it with zero further jobs, and comp becomes a
    // local relation every later join broadcasts) — the text side's
    // localRemap/localAssign shape. An over-cap frontier falls through
    // to the pinned distributed rounds; `release` frees exactly what
    // was pinned.
    val (comp, release) = {
      val take = contracted.take(FrontierCap + 1)
      if (take.length <= FrontierCap) {
        val es = take.map(r => (r.getLong(0), r.getLong(1))).toSeq
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        (Components.unionFindLocal(nodes, es).toDF("node", "component"),
          () => ())
      } else {
        val pc = graft.Checkpoints.pin(contracted)
        // driverThreshold = 0: this branch already PROVED the frontier
        // is over-cap, so connectedComponents' own bounded-take probe
        // would be a guaranteed-wasted job
        // connectedComponents' labels arrive eagerly pinned (it frees
        // its own round pins) — re-pinning would orphan the inner pin
        val c = Components.connectedComponents(pc, driverThreshold = 0)
        (c, () => Seq(c, pc).foreach(graft.Checkpoints.free))
      }
    }
    Seq(edges, reps).foreach(graft.Checkpoints.free)

    val newAssign = newVecs.select(col("vec_id"))
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
    // comp rows keyed by new vec ids never match an old cluster_id
    // (new-ids precondition), so no filter is needed
    val remap = comp.select(col("node").as("cluster_id"),
      col("component").as("merged"))
    AdmitFrontier(newAssign, remap, newBucketRows, release)
  }

  /** Cap on contracted frontier edges kept driver-local — SHARED with
    * [[Components.connectedComponents]]'s `driverThreshold` (one
    * invariant, one constant): K-row bounded-collect material, same as
    * the ANN centroid collects. */
  private def FrontierCap = Components.DefaultDriverThreshold

  /** Assemble the grown in-memory state from an admission's frontier
    * ([[admitCore]]): relabel merged old clusters, append the batch's
    * labels, re-aggregate only the touched sizes, extend the bucket
    * relation. */
  private def applyCore(state: EmbedDedupState, newAssign: DataFrame,
      remap: DataFrame, newBucketRows: DataFrame): EmbedDedupState = {
    val oldRelabeled = state.labels
      .join(broadcast(remap), Seq("cluster_id"), "left")
      .select(col("vec_id"),
        coalesce(col("merged"), col("cluster_id")).as("cluster_id"))
    val newCounts = newAssign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("delta"))
    val untouched = state.sizes
      .join(broadcast(remap.select(col("cluster_id"))), Seq("cluster_id"),
        "left_anti")
    val touchedSizes = state.sizes.join(broadcast(remap), Seq("cluster_id"))
      .select(col("merged").as("cluster_id"), col("cluster_size").as("delta"))
      .union(newCounts)
      .groupBy(col("cluster_id"))
      .agg(sum(col("delta")).as("cluster_size"))

    EmbedDedupState(
      labels = oldRelabeled.union(newAssign),
      sizes = untouched.union(touchedSizes),
      buckets = bucketCols(state.buckets).unionByName(newBucketRows))
  }

  /** (vec_id, cluster_id, cluster_size) — the batch
    * [[Dedup.embeddingDupClusters]] output shape, from a state.
    *
    * Computed as a count window over labels in ONE pass rather than
    * `labels ⋈ state.sizes`: cluster_size ≡ member count is a state
    * invariant (the spec suite pins it via batch-truth equality), the
    * join form scans the labels lineage twice, and the window's
    * partitions are bounded by near-dup cluster size — per-entity
    * bounded, like sessions-per-user. */
  def labelsWithSizes(state: EmbedDedupState): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    state.labels.select(col("vec_id"), col("cluster_id"),
      count(lit(1)).over(w).as("cluster_size"))
  }

  // ---- persisted store ---------------------------------------------------

  /** Coarse partition count of the persisted bucket log: `grpb =
    * grp % EmbStateBuckets` is the partition column, `grp` a sorted
    * data column inside each file. Partitioning by raw `grp` (≤ 4096
    * values) was measured unusable: every 100-vector admission wrote
    * ~1600 one-row files (one per touched grp dir), the per-admission
    * wall started at 17 s of filesystem churn and grew ~2 s/day from
    * partition-listing alone (`bench/EMBCHAIN_r14_sf01_grp_layout.txt`).
    * 64 coarse buckets keep writes to a few files per segment; the
    * probe's two filters (touched-grpb dirs statically, then the grp IN
    * pushed onto the SORTED grp column) prune in the TRICKLE regime only — a
    * handful of vectors touch few grpb values. A bulk daily batch
    * saturates the fixed 4096-cell grid (≈300 vectors already touch
    * ~40% of cells, covering every grpb), so the probe reads most of
    * the log — which is within a small constant of the rows its verify
    * kernel needs anyway, and that kernel, not the scan, dominates. The
    * 100 TB lever is grid SIZING (more tables × planes bounds cell
    * occupancy — the [[Dedup.embeddingNearDupsLsh]] recall trade), not
    * scan pruning at a saturated grid. */
  val EmbStateBuckets = 64

  /** The bucket log, bucketed on `grpb` and sorted on `grp`. */
  private val Buckets = Log("buckets",
    "grp BIGINT, vec_id BIGINT, embedding ARRAY<FLOAT>",
    layout = VersionedIndex.Tiered("grpb",
      n => pmod(col("grp"), lit(n)).cast("int"), "grp"))

  /** The bucket log's columns: a loaded log also carries the grpb
    * partition column, in its own column order. */
  private def bucketCols(rows: DataFrame): DataFrame =
    rows.select(col("grp"), col("vec_id"), col("embedding"))

  /** The label log; its rows are the store's committed size. A fold
    * writes it whole: the relabeled labels, with the composed remap
    * applied (and reset to empty). */
  private val Labels = Log("labels", "vec_id BIGINT, cluster_id BIGINT",
    fold = None)
  private val RemapDdl = "cluster_id BIGINT, merged BIGINT"

  /** The committed composed remap `C` of version `v` — the LSM read
    * repair relation: every cluster id ever merged AWAY maps to its
    * CURRENT root. Size is bounded by cumulative merge events (plus the
    * batch's bridged new ids), not by the corpus — merges only happen
    * when new data connects existing clusters. */
  private def remapOf(spark: SparkSession, dir: String, v: Long): DataFrame =
    VersionedIndex.readModel(spark, dir, v, "remap", RemapDdl)

  /** Writes a version's labels segment and remap. */
  private def writeLabels(a: VersionedIndex.Admission, labels: DataFrame,
      remap: DataFrame): Unit =
    graft.Par.overlap(VersionedIndex.writeModel(remap, a.dir, a.next, "remap"))(
      a.seg(Labels, labels))

  /** Labels as of the committed version: the append-only label log
    * (base fold + one O(batch) segment per admission) repaired through
    * the broadcast composed remap. Every vector's row is written exactly
    * once — rows never move; only their cluster VALUE is re-pointed at
    * read via `C`. */
  private def labelsOf(log: DataFrame, c: DataFrame): DataFrame =
    log.join(broadcast(c.select(col("cluster_id").as("ck"), col("merged"))),
        col("cluster_id") === col("ck"), "left")
      .select(col("vec_id"),
        coalesce(col("merged"), col("cluster_id")).as("cluster_id"))

  /** On-disk layout (the [[VersionedIndex]] protocol — atomic CURRENT
    * pointer, manifest-listed segments, crashed commits invisible):
    *
    * {{{
    * dir/
    *   CURRENT                          # committed version
    *   v$N/MANIFEST  v$N/remap/         # composed remap C (merges only)
    *   buckets/base/cpart=$j/grpb=…/    # bucket log base (grp-sorted)
    *   buckets/seg$M/                   # one file per append
    *   labels/base/cpart=$j/  labels/seg$M/   # label log (LSM)
    * }}}
    *
    * A two-tier store ([[VersionedIndex.Tiered]], [[EmbStateBuckets]]
    * buckets): both logs append ONE O(batch) file per admission and share
    * the manifest's `parts` and `segs`; once parts and segments would
    * exceed `maxLiveSegments` the commit FOLDS each grown relation into
    * one new base part (an O(corpus) rewrite every K days — amortized
    * O(corpus/K), bounding read fan-in like
    * [[graft.streaming.DedupStream]]'s folds).
    *
    * Labels are LSM-style, NOT rewritten per commit: cluster MERGES are
    * recorded in the composed remap `C` (`v$N/remap`, size = cumulative
    * merge events) and applied at read by one broadcast join, so the
    * per-admission label write is the batch's own rows plus `C` — the
    * text side's copy-on-write label tiers rewrite every TOUCHED bucket
    * instead, which degrades to a full labels rewrite once the day's
    * new cluster ids hash across all buckets; the log-plus-remap shape
    * keeps the daily write O(batch + merges) at every batch size.
    * `sizes` is derived from labels at load (cluster_size ≡ member
    * count is a state invariant), so it needs no store of its own.
    * The fold applies `C` into the rewritten base and resets it to
    * empty. Local segment writes coalesce to one file; a deployment
    * sizes segment files by target block size instead. */
  def saveState(state: EmbedDedupState, dir: String,
      stream: Option[(String, Long)] = None,
      retainVersions: Int = VersionedIndex.DefaultRetainVersions): Unit =
    // fresh-store bootstrap only: a resave would append the FULL bucket
    // relation as a duplicate segment next to the ones it already holds
    VersionedIndex.bootstrap(state.labels.sparkSession, dir,
        Seq(Labels, Buckets), stream, retainVersions,
        buckets = Some(EmbStateBuckets)) { a =>
      graft.Par.overlap(a.seg(Buckets, bucketCols(state.buckets)))(
        writeLabels(a, state.labels, emptyRemap(state.labels.sparkSession)))
    }

  /** Bootstrap a FRESH persisted store straight from the corpus — the
    * streaming day-0 path. Result-equivalent to
    * `saveState(initialState(emb), dir)` (same clustering, same layout,
    * spec-pinned by the chain ≡ batch suite), but the bucket-log
    * segment — which depends only on the corpus, not the clustering —
    * starts writing BEFORE the cluster fixpoint runs, so the two
    * overlap instead of serializing (the [[admitDrop]] overlapped-write
    * shape applied to day 0). */
  def bootstrapDrop(spark: SparkSession, dir: String, emb: DataFrame,
      threshold: Double = 0.45,
      stream: Option[(String, Long)] = None,
      retainVersions: Int = VersionedIndex.DefaultRetainVersions): Unit =
    VersionedIndex.bootstrap(spark, dir, Seq(Labels, Buckets), stream,
        retainVersions, buckets = Some(EmbStateBuckets)) { a =>
      graft.Par.overlap(a.seg(Buckets, bucketRows(emb))) {
        // the eager cluster fixpoint (edge kernel, component closure,
        // label pin) runs while the bucket segment writes; labels-only —
        // the store derives sizes at load, so the size join never runs
        val lab = Dedup.embeddingDupLabels(emb, threshold)
        writeLabels(a, lab.select(col("vec_id"), col("cluster_id")),
          emptyRemap(spark))
      }
    }

  private def emptyRemap(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(RemapDdl))

  def loadState(spark: SparkSession, dir: String): Option[EmbedDedupState] =
    VersionedIndex.meta(dir).map(m => stateAt(spark, dir, m))

  /** Time-travel read of a RETAINED version — retention keeps the
    * latest `retainVersions` commits' manifests, remaps, and log
    * segments (default 2 = current + previous; each commit records the
    * depth it used in its manifest), so an in-flight reader of a prior
    * commit stays valid across `retainVersions - 1` promotes (and an
    * explicit audit read can pin it). Throws, naming the version, once
    * retention has reclaimed it — the [[VersionedIndex.metaAt]]
    * contract. */
  def loadStateAt(spark: SparkSession, dir: String,
      version: Long): EmbedDedupState =
    stateAt(spark, dir, VersionedIndex.metaAt(dir, version))

  private def stateAt(spark: SparkSession, dir: String,
      m: VersionedIndex.Meta): EmbedDedupState =
    stateOf(spark, dir, m.version, VersionedIndex.readLog(spark, dir, _, m))

  /** The state of committed `version`, its logs read through `read`. */
  private def stateOf(spark: SparkSession, dir: String, version: Long,
      read: Log => DataFrame): EmbedDedupState = {
    val labels = labelsOf(read(Labels), remapOf(spark, dir, version))
    EmbedDedupState(
      labels = labels,
      sizes = labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size")),
      buckets = read(Buckets))
  }

  /** Admit a batch against the PERSISTED state at `dir` and commit the
    * grown state as the next version — per-admission state WRITES are
    * O(batch + cumulative merges), never the corpus: the batch's bucket
    * rows and label rows land as one day-segment file per log, the
    * composed remap re-points through this admission's merges, and the
    * CURRENT pointer moves atomically (a crashed admission publishes
    * nothing; the retry overwrites its partial segment). Every
    * `maxLiveSegments` admissions the commit folds both logs (see
    * [[saveState]]'s layout note). The probe-side bucket-log READ
    * saturates with batch size — see [[EmbStateBuckets]]'s regime
    * note. */
  def admitDrop(spark: SparkSession, dir: String, newVecs: DataFrame,
      threshold: Double = 0.45, maxLiveSegments: Int = 16,
      stream: Option[(String, Long)] = None,
      retainVersions: Int = VersionedIndex.DefaultRetainVersions): Unit =
    VersionedIndex.appendOrFold(spark, dir,
      s"$dir holds no committed embedding-dedup state — saveState first",
      Seq(Labels, Buckets), VersionedIndex.segmentCap(maxLiveSegments),
      sizeBy = Seq(newVecs), stream, retainVersions) { a =>
      val st0 = stateOf(spark, dir, a.base.version, a.read)
      // The bucket-log segment depends ONLY on the batch (and, on a
      // fold, the stored log) — inputs ready before the admission core
      // — so its write runs CONCURRENTLY with the probe/verify/fixpoint
      // instead of queueing in the post-core write group (measured
      // ~0.7 s off the admission floor). Crash semantics are unchanged:
      // nothing is visible until the CURRENT pointer moves, and a
      // crashed attempt's partial segment is overwritten on retry.
      val nbr = bucketRows(newVecs)
      graft.Par.overlap(a.seg(Buckets, nbr)) {
        val f = admitCore(st0, newVecs, threshold, Some(nbr))
        if (a.fold)
          // the grown labels become one segment, C folds into the
          // rewritten label base and resets to empty
          writeLabels(a, applyCore(st0, f.newAssign, f.remap, nbr).labels,
            emptyRemap(spark))
        else {
          // true merges only: drop identity rows and rows keyed by the
          // batch's own ids (new ids never appear as a stored label VALUE
          // — newAssign rows already carry final roots — so they would
          // only bloat C)
          val merges = f.remap.filter(col("cluster_id") =!= col("merged"))
            .join(broadcast(newVecs.select(col("vec_id").as("cluster_id"))),
              Seq("cluster_id"), "left_anti")
          val prevC = remapOf(spark, dir, a.base.version)
          // compose: entries of C whose root was merged again re-point to
          // the new root; this admission's merges append. Keys stay
          // disjoint — C's keys are dead clusters, a remap key is a live
          // one.
          val r = merges.select(col("cluster_id").as("rk"),
            col("merged").as("rv"))
          val composed = prevC
            .join(broadcast(r), prevC("merged") === col("rk"), "left")
            .select(prevC("cluster_id"),
              coalesce(col("rv"), prevC("merged")).as("merged"))
            .unionByName(merges)
          writeLabels(a, f.newAssign, composed)
        }
        // every consumer of the admission's pins is written
        f.release()
      }
    }

  // ---- SparkEntry wiring -------------------------------------------------

  /** q62: day-1 corpus = vec_id % 5 != 0, day-2 drop = vec_id % 5 == 0 —
    * the q51 split shape, scattering near-dup endpoints across both days
    * so the admission exercises new-joins-old, old-merges, and new
    * singletons. The oracle is q61's full-corpus closure VERBATIM:
    * equality proves the admission algebra decomposes the batch
    * clustering exactly. */
  def qIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val st0 = initialState(emb.filter(col("vec_id") % 5 =!= 0))
    val st1 = admitBatch(st0, emb.filter(col("vec_id") % 5 === 0))
    labelsWithSizes(st1)
  }

  val qIncrementalSql: String = Dedup.qEmbedClustersSql
}
