package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import VersionedIndex.{OneFile, writeSeg}

/** Pinned (incremental) leakage-safe split — q93, the stable-across-
  * admissions sibling of [[Corpus.clusterSafeSplit]] (q91).
  *
  * q91 assigns train/val/test by NEAR-DUP CLUSTER so no cluster
  * straddles the eval boundary — but its assignment is a pure function
  * of the CURRENT cluster id, and cluster ids move: a later bridge doc
  * that merges two clusters relabels the higher one (min-label rule),
  * silently MOVING yesterday's test documents into train — exactly the
  * leakage the split exists to prevent (the q91 scaladoc concedes
  * this). This store makes the assignment a PERSISTED FACT instead of
  * a derived value:
  *
  *   - a document's split is written ONCE, at its first admission, and
  *     never rewritten — old docs cannot move, by construction;
  *   - a cluster's first assignment is PINNED; a new doc joining an
  *     existing cluster inherits the pin;
  *   - a merge inherits the OLDEST pin among the merged parts (seq,
  *     then pinned-cluster id as the deterministic tiebreak) — chosen
  *     over quarantining the merged cluster because the merged
  *     documents already sit in their original splits either way; the
  *     pin only decides FUTURE members, and "oldest wins" keeps the
  *     largest established lineage's side (and is replayable by an
  *     oracle, which a quarantine side-channel would not be).
  *
  * On-disk layout (the [[VersionedIndex]] protocol — atomic CURRENT
  * pointer, manifest-listed segments, crashed commits invisible):
  *
  * {{{
  * dir/
  *   CURRENT  v$N/MANIFEST
  *   splits/seg=$M/   # (doc_id, split, admit_seq) — PURE APPEND:
  *                    #   one row per doc ever admitted, written once
  *   pins/seg=$M/     # (cluster_id, split, seq, pin_src) — the cluster
  *                    #   pin log; a merge appends the surviving pins
  *                    #   re-keyed to the merged label (O(touched)),
  *                    #   stale keys are dead labels never looked up
  * }}}
  *
  * Per-admission writes are O(batch + touched pins), never the corpus:
  * the splits segment is the batch's rows; the pins segment is the
  * re-keyed pins of merged clusters (from the admission's `remap`
  * relation — frontier-sized) plus one row per FRESH cluster. The pins
  * lookup is a thin full-log scan semi-joined to the batch's cluster
  * set (broadcast); at deployment scale the log is O(#clusters) of
  * three ints and a 5-char string — if even that scan bites, the
  * bucket-by-cluster-hash upgrade is the [[IncrementalDedup]] bands
  * layout applied verbatim. Past `maxLiveSegments` the commit folds
  * each log (splits = concatenation; pins = keep the effective min-
  * (seq, pin_src) row per key, which preserves every future lookup).
  *
  * WHY THE ORACLE CAN REPLAY THIS (engine rule ≡ doc-level rule): the
  * engine resolves a cluster's effective pin as the pin row with
  * minimal (seq, pin_src). Every pin row was created FRESH at seq s
  * with pin_src = the then-current label = the min doc id of the
  * then-fresh cluster, and all of that cluster's earliest members were
  * admitted at seq s. So for any current cluster: the minimal pin seq
  * equals the minimal admit_seq over members; among members of that
  * admit_seq, the minimal doc id equals the minimal pin_src (labels
  * are min-member ids); and that member's own split is that pin's
  * split (it created or co-created the pin). Hence
  *
  *   effective pin of C == split of C's member with min (admit_seq,
  *   doc_id)
  *
  * — a statement about the day-k clusterings and the splits table
  * alone, which DuckDB replays with the shared closure CTEs (the q51
  * oracle's subset-invariance argument gives the day-k clusterings
  * from one full-corpus candidate relation). q93's oracle is exactly
  * that replay; a hash match pins the whole pin protocol.
  */
object SplitPins {

  private val PinDdl =
    "cluster_id BIGINT, split STRING, seq BIGINT, pin_src BIGINT"
  private val SplitDdl = "doc_id BIGINT, split STRING, admit_seq BIGINT"

  /** The shared 12/2/2-sixteenths assignment rule ([[Corpus
    * .shuffleShard]]'s nibble rule applied to an id): first hex nibble
    * of md5(id) — c,d → val; e,f → test; else train. */
  def nibbleSplit(id: Column): Column = {
    val nib = substring(md5(id.cast("string")), 1, 1)
    when(nib.isin("c", "d"), "val")
      .when(nib.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** DuckDB twin of [[nibbleSplit]] over SQL fragment `x`. */
  def nibbleSplitSql(x: String): String =
    s"""CASE WHEN substr(md5(CAST($x AS VARCHAR)), 1, 1)
       |       IN ('c', 'd') THEN 'val'
       |     WHEN substr(md5(CAST($x AS VARCHAR)), 1, 1)
       |       IN ('e', 'f') THEN 'test' ELSE 'train' END""".stripMargin

  /** Bootstrap the store from a day-0 labeling (doc_id, cluster_id) —
    * every cluster (singletons included) gets its nibble pin at seq 0;
    * every doc gets its cluster's split. */
  def bootstrapStore(spark: SparkSession, dir: String,
      labels: DataFrame, stream: Option[(String, Long)] = None): Unit =
    // the two seg writes touch disjoint paths and share only the (pinned
    // upstream) labels relation — overlap them (guide §2.6: fill the
    // tail with the independent sibling job instead of serializing two
    // ~single-task writes); the splits write's row count is the log size
    VersionedIndex.bootstrap(dir, Seq("pins", "splits"), stream) {
      graft.Par.inParallel(
        () => writeSeg(labels.select(col("cluster_id")).distinct()
            .select(col("cluster_id"), nibbleSplit(col("cluster_id")).as("split"),
              lit(0L).as("seq"), col("cluster_id").as("pin_src")),
          dir, "pins", 0, OneFile),
        () => writeSeg(labels.select(col("doc_id"),
            nibbleSplit(col("cluster_id")).as("split"), lit(0L).as("admit_seq")),
          dir, "splits", 0, OneFile)).last
    }

  /** Admit one clustering delta ([[IncrementalDedup.admitBatchDelta]]'s
    * `newAssign`/`remap`) and commit the next version. `newAssign` is
    * the batch's (doc_id, cluster_id) rows with POST-merge labels;
    * `remap` is the (cluster_id, merged) relabeling of touched old
    * labels (identity rows ignored here). The admission seq is the
    * committed version number. */
  def admitDelta(spark: SparkSession, dir: String, newAssign: DataFrame,
      remap: DataFrame, maxLiveSegments: Int = 16,
      stream: Option[(String, Long)] = None): Unit =
    // append admissions are frontier-sized — static plans sized to the
    // delta (the admitBatchDelta measurement); a fold rewrites the logs
    VersionedIndex.appendOrFold(spark, dir,
      s"$dir holds no committed split store — bootstrapStore first",
      maxLiveSegments, Seq("pins", "splits"), sizeBy = Seq(newAssign),
      stream = stream) { (m, next, fold) =>
      admitSegs(spark, dir, m, newAssign, remap, next, fold)
    }

  /** Writes this admission's pins and splits segments (or the folded
    * logs) and returns the committed splits-log size. */
  private def admitSegs(spark: SparkSession, dir: String,
      m: VersionedIndex.Meta, newAssign: DataFrame, remap: DataFrame,
      next: Long, fold: Boolean): Long = {
    val pinsLog = VersionedIndex.readLog(spark, dir, "pins", m.segs, PinDdl)
    // merged clusters: re-key the surviving pins to the merged label.
    // remap is frontier-sized — broadcast; identity rows change nothing
    // and are dropped
    val relabel = remap.filter(col("cluster_id") =!= col("merged"))
    val remapped = pinsLog
      .join(broadcast(relabel.select(col("cluster_id"), col("merged"))),
        Seq("cluster_id"))
      .select(col("merged").as("cluster_id"), col("split"), col("seq"),
        col("pin_src"))
    // effective pin per batch-touched cluster: min (seq, pin_src) row
    // over live pins (log ∪ this admission's re-keyed rows), restricted
    // to the batch's cluster set (broadcast semi-join keeps the agg
    // O(touched) — the scan of the thin pins log is the per-admission
    // floor, see the scaladoc's bucket upgrade note)
    val touched = newAssign.select(col("cluster_id")).distinct()
    val eff = pinsLog.unionByName(remapped)
      .join(broadcast(touched), Seq("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(min_by(col("split"),
        struct(col("seq"), col("pin_src"))).as("pin_split"))
    val assigned = newAssign.select(col("doc_id"), col("cluster_id"))
      .join(eff, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("pin_split"), nibbleSplit(col("cluster_id")))
          .as("split"),
        col("pin_split").isNull.as("fresh"))
    // the batch probes `assigned` twice (splits seg + fresh pins) and
    // it is frontier-sized — pin once
    val pinned = graft.Checkpoints.pin(assigned)
    try {
      val freshPins = pinned.filter(col("fresh"))
        .select(col("cluster_id"), col("split")).distinct()
        .select(col("cluster_id"), col("split"), lit(next).as("seq"),
          col("cluster_id").as("pin_src"))
      val pinSeg = remapped.select(col("cluster_id"), col("split"),
          col("seq"), col("pin_src")).distinct()
        .unionByName(freshPins)
      val splitSeg = pinned.select(col("doc_id"), col("split"),
        lit(next).as("admit_seq"))
      // The splits log is PURE APPEND (one row per doc ever admitted,
      // never deduped): an append's segment is the batch, a fold's the
      // whole log, and the written row count gives the committed total
      // on both paths. The two seg writes touch disjoint paths and read
      // only already-pinned blocks — overlap them (guide §2.6).
      if (fold) {
        // splits: pure concatenation; pins: effective row per key (the
        // min-(seq, pin_src) reduction preserves every future lookup —
        // dead-label keys survive harmlessly, they are never current
        // labels again because components only grow)
        val allPins = pinsLog.unionByName(pinSeg)
        graft.Par.inParallel(
          () => writeSeg(allPins
              .groupBy(col("cluster_id"))
              .agg(min_by(struct(col("split"), col("seq"), col("pin_src")),
                struct(col("seq"), col("pin_src"))).as("w"))
              .select(col("cluster_id"), col("w.split").as("split"),
                col("w.seq").as("seq"), col("w.pin_src").as("pin_src")),
            dir, "pins", next, OneFile),
          () => writeSeg(VersionedIndex.readLog(spark, dir, "splits", m.segs,
              SplitDdl).unionByName(splitSeg), dir, "splits", next, OneFile)).last
      } else
        m.totalRows + graft.Par.inParallel(
          () => writeSeg(pinSeg, dir, "pins", next, OneFile),
          () => writeSeg(splitSeg, dir, "splits", next, OneFile)).last
    } finally graft.Checkpoints.free(pinned)
  }

  /** Every admitted document's pinned assignment:
    * (doc_id, split, admit_seq). */
  def loadSplits(spark: SparkSession, dir: String): DataFrame = {
    val m = VersionedIndex.metaOrThrow(dir)
    VersionedIndex.readLog(spark, dir, "splits", m.segs, SplitDdl)
  }

  /** The live pin log (post-fold: one effective row per key). */
  private[graft] def loadPins(spark: SparkSession, dir: String): DataFrame = {
    val m = VersionedIndex.metaOrThrow(dir)
    VersionedIndex.readLog(spark, dir, "pins", m.segs, PinDdl)
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** q93: three daily drops (`pmod(doc_id, 3)`) chained through the
    * pinned store — bootstrap + append + FOLD commits riding the real
    * [[IncrementalDedup]] admission deltas — then the splits table.
    * Unlike the q62/q85 equality demos, chained here does NOT equal
    * one-shot BY DESIGN (q91 over the full corpus reassigns merged
    * clusters; the pin table is the thing that refuses to), so the
    * oracle replays the pin protocol itself via the doc-level
    * equivalence in the object scaladoc. */
  def qPinnedSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    def day(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    val root = java.nio.file.Files.createTempDirectory("graft-q93").toString
    val st0 = IncrementalDedup.initialState(day(0))
    bootstrapStore(s, s"$root/state", st0.labels)
    val d1 = IncrementalDedup.admitBatchDelta(st0, day(1))
    admitDelta(s, s"$root/state", d1.newAssign, d1.remap,
      maxLiveSegments = 2) // append
    val st1 = IncrementalDedup.applyDelta(st0, d1)
    val d2 = IncrementalDedup.admitBatchDelta(st1, day(2))
    admitDelta(s, s"$root/state", d2.newAssign, d2.remap,
      maxLiveSegments = 2) // fold
    // pin before the state dir is deleted (the caller writes AFTER this
    // returns; a lazy scan would read deleted files)
    val out = graft.Checkpoints.pin(
      loadSplits(s, s"$root/state"))
    d1.release(); d2.release()
    try org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
    catch { case _: Exception => }
    out
  }

  /** Oracle: the day-k clusterings from ONE day-dimensioned closure
    * (subset-invariant candidates — the q51 argument), then the
    * doc-level pin rule (provably ≡ the engine's min-(seq, pin_src)
    * rule, object scaladoc): a new doc inherits the split of its
    * cluster's member with min (admit_seq, doc_id); a cluster with no
    * earlier member gets the nibble of its label. */
  val qPinnedSplitSql: String = {
    val nibC = nibbleSplitSql("n.cluster_id")
    s"""WITH RECURSIVE ${Dedup.jaccardCtesSql},
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= 0.5
       |        UNION SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
       |reach(day, node, root) AS (
       |  SELECT dd.day, t.doc_id, t.doc_id
       |  FROM (SELECT UNNEST([0, 1, 2]) AS day) dd
       |  JOIN documents t ON t.doc_id % 3 <= dd.day
       |  UNION
       |  SELECT r.day, s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
       |  WHERE s.b % 3 <= r.day),
       |dlab AS (SELECT day, node AS doc_id, MIN(root) AS cluster_id
       |         FROM reach GROUP BY day, node),
       |s0 AS (SELECT n.doc_id, $nibC AS split
       |       FROM dlab n WHERE n.day = 0),
       |m1 AS (SELECT n.doc_id, p.split,
       |              ROW_NUMBER() OVER (PARTITION BY n.doc_id
       |                                 ORDER BY o.doc_id) AS rn
       |       FROM dlab n
       |       JOIN dlab o ON o.day = 1 AND o.cluster_id = n.cluster_id
       |                   AND o.doc_id % 3 = 0
       |       JOIN s0 p ON p.doc_id = o.doc_id
       |       WHERE n.day = 1 AND n.doc_id % 3 = 1),
       |s1 AS (SELECT n.doc_id, COALESCE(m.split, $nibC) AS split
       |       FROM dlab n
       |       LEFT JOIN (SELECT doc_id, split FROM m1 WHERE rn = 1) m
       |         USING (doc_id)
       |       WHERE n.day = 1 AND n.doc_id % 3 = 1),
       |s01 AS (SELECT doc_id, split FROM s0
       |        UNION ALL SELECT doc_id, split FROM s1),
       |m2 AS (SELECT n.doc_id, p.split,
       |              ROW_NUMBER() OVER (PARTITION BY n.doc_id
       |                                 ORDER BY o.doc_id % 3, o.doc_id) AS rn
       |       FROM dlab n
       |       JOIN dlab o ON o.day = 2 AND o.cluster_id = n.cluster_id
       |                   AND o.doc_id % 3 < 2
       |       JOIN s01 p ON p.doc_id = o.doc_id
       |       WHERE n.day = 2 AND n.doc_id % 3 = 2),
       |s2 AS (SELECT n.doc_id, COALESCE(m.split, $nibC) AS split
       |       FROM dlab n
       |       LEFT JOIN (SELECT doc_id, split FROM m2 WHERE rn = 1) m
       |         USING (doc_id)
       |       WHERE n.day = 2 AND n.doc_id % 3 = 2)
       |SELECT doc_id, split, doc_id % 3 AS admit_seq
       |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |      UNION ALL SELECT * FROM s2)
       |ORDER BY doc_id""".stripMargin
  }
}
