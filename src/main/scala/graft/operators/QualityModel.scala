package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Model-based quality filtering (q83) — the trained-classifier rung of
  * corpus quality curation. Public pipelines gate documents with a small
  * supervised classifier trained on weak labels (a heuristic score, a
  * reference corpus, or LLM judgments) rather than the heuristic alone;
  * this implements that loop end to end on Spark MLlib:
  *
  *   heuristic quality score ([[TextAnalysis.qualityScore]], q8)
  *     → weak labels: top/bottom quality terciles (exact percentiles,
  *       the q29-verified `percentile` ≡ `quantile_cont` parity)
  *     → deterministic md5 train/holdout split (the q74-style portable
  *       value hash — layout-independent, replayable in DuckDB)
  *     → logistic regression fit on the train split (fixed seed-free
  *       deterministic solver inputs; fit BOUNDED by a value-hash gate
  *       past [[MaxFitRows]], the `annIvfKmeans` sampling argument: the
  *       fit needs well-spread points, not the corpus)
  *     → holdout agreement gated against [[AgreementFloor]] AND the
  *       majority-class baseline.
  *
  * Oracle contract (the q35/q59 pattern): model coefficients are not
  * engine-portable, so the RELATION carries only the deterministic
  * derivation (doc_id, weak_label, split — DuckDB replays percentile
  * thresholds and the md5 split exactly) plus the two model booleans,
  * which the oracle pins TRUE — a silently broken model hash-fails q83
  * rather than drifting. The unstable agreement VALUE itself never
  * enters the relation.
  */
object QualityModel {

  /** Holdout-agreement floor for `model_pass`. The LR is fit on features
    * that CONSTRUCT the heuristic label, so agreement is structurally
    * high; the floor is a CONTRACT (the q44/q87 recipe, tightened r19
    * from the 0.75 tripwire): measured holdout agreement at the gated
    * scales sf0.001 / 0.01 / 0.1 reads 0.9530 / 0.9733 / 0.9736, so
    * floor = min − 0.05 = 0.90 — a 0.95 → 0.85 collapse (a genuinely
    * broken fit) now flips q83 red where the tripwire stayed green.
    * The spec additionally pins the margin (agreement ≥ floor + 0.04 at
    * the spec scale), so margin EROSION is caught deterministically in
    * tests before it could surface as an intermittent bench hash
    * failure — the fit's holdout agreement is not bit-deterministic
    * (treeAggregate float reduction order varies with partitioning),
    * but its variation is at float-summation scale, orders of magnitude
    * inside the margin. */
  val AgreementFloor = 0.90

  /** Label terciles: quality <= p30 -> 0, >= p70 -> 1, middle unlabeled
    * (the standard weak-supervision margin). */
  val LoQuantile = 0.3
  val HiQuantile = 0.7

  /** Fit-set bound: past this many train rows a deterministic value-hash
    * gate thins the fit (classifier quality converges long before the
    * corpus is exhausted; the gate hashes VALUES, so it is stable across
    * layout/retries — the `annIvfKmeans` argument). */
  val MaxFitRows = 2000000L

  private val FeatureCols =
    Array("n_chars", "n_tokens", "punct_ratio", "stopword_ratio",
      "mean_token_len")

  /** The labeled relation (doc_id, weak_label, split) plus every feature
    * column — shared by the fit path and the emitted derivation. */
  private[graft] def labeled(docs: DataFrame): DataFrame = {
    val feats = TextAnalysis.qualityScore(docs)
    val thr = feats.agg(
      expr(s"percentile(quality, $LoQuantile)").as("lo"),
      expr(s"percentile(quality, $HiQuantile)").as("hi")).head()
    val (lo, hi) = (thr.getDouble(0), thr.getDouble(1))
    feats
      .filter(col("quality") <= lo || col("quality") >= hi)
      .withColumn("weak_label",
        when(col("quality") >= hi, 1L).otherwise(0L))
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) < "8",
          "train").otherwise("holdout"))
  }

  /** Fit the classifier on the train split; returns the model and the
    * assembler (shared by the q83 eval and the q95 holdout scoring). */
  private[graft] def fit(lab: DataFrame):
      (org.apache.spark.ml.classification.LogisticRegressionModel,
        org.apache.spark.ml.feature.VectorAssembler) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val asm = new VectorAssembler()
      .setInputCols(FeatureCols).setOutputCol("features")
    val trainAll = lab.filter(col("split") === "train")
      .withColumn("label", col("weak_label").cast("double"))
    val nTrain = trainAll.count()
    val train =
      if (nTrain <= MaxFitRows) trainAll
      else trainAll.filter(
        // the annIvfKmeans gate verbatim (Similarity.scala): one native
        // xxhash64 per row; fit-only, so it never needs oracle
        // portability — no reason for a second md5-based mechanism
        pmod(xxhash64(col("doc_id"), lit(42L)), lit(1000000L))
          < lit(math.max(MaxFitRows * 1000000L / nTrain, 1L)))
    // LBFGS runs one treeAggregate JOB per iteration (up to maxIter=50
    // sequential jobs), each launching one task per partition of the
    // cached instance RDD — on a small train split that is pure task-
    // scheduling latency (measured: the q83 fit dominated its slot wall
    // at 1.2x cpu/wall). Size the fit input's partitioning to the ROWS
    // (~256k instances/task — 5 doubles each, a few MB), not the session
    // default: the capped fit set (MaxFitRows) bounds this at 8 tasks,
    // and a deployment-sized corpus reaches the cap rather than the
    // session's width. Float-sum order inside treeAggregate shifts, which
    // the agreement contract already absorbs (see AgreementFloor doc).
    val fitParts = math.max(1L, math.min(
      trainAll.sparkSession.sparkContext.defaultParallelism.toLong,
      (math.min(nTrain, MaxFitRows) + 262143L) / 262144L)).toInt
    val model = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01)
      .fit(asm.transform(train).coalesce(fitParts))
    (model, asm)
  }

  /** Fit + evaluate; returns (holdout agreement, majority share). */
  private[graft] def fitAndEval(lab: DataFrame): (Double, Double) = {
    val (model, asm) = fit(lab)
    val holdout = asm.transform(lab.filter(col("split") === "holdout"))
    // one aggregation job over the scored holdout yields all three
    // counts (total, positives, agreements) — the previous three
    // separate count() actions re-ran the holdout scan per metric
    val r = model.transform(holdout).agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("weak_label") === 1L, 1L).otherwise(0L)),
        lit(0L)).as("n_pos"),
      coalesce(sum(when(
        col("prediction") === col("weak_label").cast("double"), 1L)
        .otherwise(0L)), lit(0L)).as("n_agree")).head()
    val n = math.max(r.getLong(0), 1L).toDouble
    val agree = r.getLong(2).toDouble / n
    val nPos = r.getLong(1).toDouble
    val majority = math.max(nPos, n - nPos) / n
    (agree, majority)
  }

  /** q83: the labeled derivation with the model gates. The labeled
    * relation rides the run-scoped Dedup memo (cleared by
    * `Dedup.clearShingleCaches` like every other memoized relation) —
    * a local persist/unpersist-in-finally would evict the cache before
    * the LAZY returned relation ever executes, recomputing the whole
    * derivation at collect time. */
  def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lab = Dedup.memoPersist(docs, "q83labeled")(labeled)
    val (agree, majority) = fitAndEval(lab)
    System.err.println(f"[quality] q83 holdout agreement=$agree%.4f " +
      f"majority=$majority%.4f floor=$AgreementFloor")
    lab.select(col("doc_id"), col("weak_label"), col("split"))
      .withColumn("model_pass", lit(agree >= AgreementFloor))
      .withColumn("beats_majority", lit(agree > majority))
  }

  /** Oracle: replay the thresholds (quantile_cont ≡ the engine's exact
    * `percentile`, the q29-verified parity) and the md5 split; pin both
    * model booleans TRUE. */
  val qQualityClassifierSql: String =
    s"""WITH qrel AS (${TextAnalysis.qualityScoreNoOrderSql}),
       |thr AS (SELECT quantile_cont(quality, $LoQuantile) AS lo,
       |               quantile_cont(quality, $HiQuantile) AS hi FROM qrel)
       |SELECT doc_id,
       |       (CASE WHEN quality >= hi THEN 1 ELSE 0 END)::BIGINT AS weak_label,
       |       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '8'
       |            THEN 'train' ELSE 'holdout' END AS split,
       |       TRUE AS model_pass, TRUE AS beats_majority
       |FROM qrel, thr WHERE quality <= lo OR quality >= hi
       |ORDER BY doc_id""".stripMargin
}
