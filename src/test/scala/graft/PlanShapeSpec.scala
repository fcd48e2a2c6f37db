package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties SCALE.md claims
  * (pushdown, pruning, broadcast, top-k without global sort) must stay
  * true as the code evolves — asserted on the optimized/executed plans. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Every query, built once for the surface-wide scans below (building
    * runs iterative queries' driver loops, so this doubles as a smoke
    * test that every query constructs at sf0.001). */
  private lazy val surface: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.keys.toSeq.sorted.map(q => q -> SparkEntry.queries(q)(spark, sf))

  test("q2 filter is pushed into the parquet scan") {
    val plan = executedPlan("q2_violent_filter")
    assert(plan.contains("PushedFilters:") && plan.contains("p_type"),
      s"filter not pushed:\n$plan")
  }

  test("q26 prunes columns at the scan (no full-row read)") {
    val plan = executedPlan("q26_shipping_priority")
    val scanLine = plan.split("\n").find(l => l.contains("ReadSchema") && l.contains("lineitem")).getOrElse("")
    assert(scanLine.contains("l_orderkey") && !scanLine.contains("l_comment") &&
      !scanLine.contains("l_returnflag"),
      s"lineitem scan reads more than needed:\n$scanLine")
  }

  test("q3/q26 broadcast the dim side") {
    assert(executedPlan("q3_arrest_pct_topk").contains("BroadcastHashJoin"))
    assert(executedPlan("q26_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    // a query returns a relation: its row order is not part of its
    // contract (every consumer compares rows order-free), so a trailing
    // presentation sort is a sample job, a map stage and a range shuffle
    // that nobody reads; only ORDER BY … LIMIT queries order rows
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val topK = Set("q3_arrest_pct_topk", "q26_shipping_priority",
      "q41_top_bigrams", "q67_bpe_vocab")
    def root(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => root(c)
      case _ => p
    }
    def physRoot(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => physRoot(a.inputPlan)
      case ProjectExec(_, c) => physRoot(c)
      case _ => p
    }
    val sorted = surface.collect {
      case (q, df) if root(df.queryExecution.optimizedPlan).isInstanceOf[Sort] => q
    }
    assert(sorted.isEmpty, s"queries ending in a global sort: ${sorted.mkString(", ")}")
    surface.filter { case (q, _) => topK(q) }.foreach { case (q, df) =>
      val plan = df.queryExecution.executedPlan
      assert(physRoot(plan).isInstanceOf[TakeOrderedAndProjectExec],
        s"$q top-k does not plan TakeOrderedAndProject:\n$plan")
    }
  }

  test("signature pipeline is shuffle-free up to the explode") {
    val df = graft.operators.Dedup.minhashSignature(
      graft.engine.Tables.documents(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"narrow pipeline acquired a shuffle:\n$plan")
  }

  test("q16/q36 near-dup plans contain no nested-loop or cartesian join") {
    Seq("q16_embed_neardup", "q36_simhash_pairs").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q regressed to an all-pairs join:\n$plan")
    }
  }

  test("no query plans a cartesian product or unintended nested-loop join") {
    // blanket guard over the whole surface: every broadcast in the engine
    // is a hash join; BNLJ/cartesian would mean an equi-key was lost.
    // Intended BNLJs — all with CONSTANT-size broadcast build sides,
    // where a nested loop is the correct plan:
    //  q17: documented brute-force baseline (8 query vectors × corpus)
    //  q31/q35: IVF probing, corpus × 16 broadcast centroids
    //  q40: broadcast single-row corpus count joined into the idf table
    //  q43: ADC sweep, broadcast query set × corpus PQ codes
    //  q44: recall eval — its ground-truth side IS q17's brute force
    //  q53: broadcast single-row min-count joined into the S-row
    //       per-source threshold table (the corpus side stays a
    //       broadcast HASH join + narrow filter)
    //  q56: IVF-PQ — the same corpus × 16-centroid probe as q31/q35
    //       (the candidate/ADC joins themselves are equi hash joins)
    //  q59: the learned IVF-PQ's recall derivative — its ground-truth
    //       side is q17's brute force and its approx side is q56's probe
    val intendedBnlj = Set("q17_cosine_topk", "q31_ann_ivf",
      "q35_ann_ivf_kmeans", "q40_tfidf_topk", "q43_pq_topk",
      "q44_ann_recall", "q53_corpus_mix", "q56_ann_ivfpq",
      "q59_ann_ivfpq_learned", "q60_ann_refined",
      "q70_ann_refined_deep") // q60's chain at the deep shortlist
    surface.foreach { case (q, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product")
      if (!intendedBnlj(q))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ")
    }
  }

  test("no window in the surface partitions an unbounded input on a tiny key") {
    // Blanket guard for the q46 failure class: a window partitioned on a
    // constant-cardinality key (e.g. lang) over a corpus-sized input
    // funnels the corpus through a handful of sort tasks at 100 TB. For
    // every logical Window in every query plan require, in order:
    //  1. a non-empty, non-all-literal partitionSpec (no global windows);
    //  2. AND one of
    //     a. the window's child subtree contains an Aggregate — the input
    //        was already reduced (q6's per-customer rollup, q46's
    //        one-row-per-block prefix stage, tf-idf's per-doc tf), or
    //     b. measured at sf0.001, the hottest partition key holds ≤ 64
    //        rows OR ≤ 10% of the window's input (per-entity windows —
    //        sessions per user, tokens per chunk — are bounded by the
    //        entity; a constant-cardinality key like lang necessarily
    //        holds a constant FRACTION of the input, which is what
    //        actually fails to scale), or
    //     c. the query is in a documented exemption set: the per-query
    //        ANN rankers (windows bounded by the candidate-generation
    //        stage, already audited by intendedBnlj above), and q46 —
    //        whose level-1 window is bounded by PackBlockWidth (65536)
    //        BY CONSTRUCTION, a constant larger than the sf0.001 corpus,
    //        so it cannot be measured here; SequencingSpec's blockWidth-
    //        invariance property test pins that bound with small widths.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val annExempt = Set("q17_cosine_topk", "q18_ann_lsh", "q31_ann_ivf",
      "q35_ann_ivf_kmeans", "q43_pq_topk", "q44_ann_recall",
      "q56_ann_ivfpq", // also: its DPP subquery placeholder cannot be
                       // re-analyzed by this test's measurement path
      "q59_ann_ivfpq_learned", // q56's reader + q17's ground truth
      "q60_ann_refined",        // q56's reader + broadcast re-rank
      "q70_ann_refined_deep",   // same chain, deeper shortlist
      "q46_seq_packing",
      "q64_bpe_pack",           // q46's packer, BPE-budgeted — same
                                // PackBlockWidth-bounded level-1 window
      // q76/q78 island windows partition on (doc pair, diff): rows per
      // key = matched windows at one alignment ≤ min(doc length) BY
      // CONSTRUCTION — entity-bounded like sessions-per-user,
      // independent of corpus size. At sf0.001 the corpus is so small
      // that ONE full-copy pair (~80 windows) exceeds the 10%-of-input
      // arm, which measures corpus fraction, not entity bound;
      // SubstringDedupSpec pins the kernel's semantics instead.
      "q76_substring_dedup",
      "q78_ngram_contamination")
    surface.filterNot { case (q, _) => annExempt(q) }.foreach { case (q, df) =>
      val plan = df.queryExecution.optimizedPlan
      plan.collect { case w: LWindow => w }.foreach { w =>
        assert(w.partitionSpec.nonEmpty && w.partitionSpec.exists(!_.foldable),
          s"$q has a global (unpartitioned) window: ${w.windowExpressions}")
        val reduced = w.child.collectFirst { case a: Aggregate => a }.isDefined
        if (!reduced) {
          val child = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, w.child)
          val keys = w.partitionSpec.map(e =>
            org.apache.spark.sql.graftbridge.Bridge.column(e))
          import org.apache.spark.sql.functions.{max, sum}
          val row = child.groupBy(keys: _*).count()
            .agg(max("count"), sum("count")).head()
          val (hottest, total) = (row.getLong(0), row.getLong(1))
          assert(hottest <= 64 || hottest <= total / 10,
            s"$q windows an unreduced input whose hottest partition key " +
              s"holds $hottest of $total rows at sf0.001 on ${w.partitionSpec}")
        }
      }
    }
  }

  test("IVF cell assignment is one narrow projection: no Exchange/Window/Join") {
    // The regression guard for the r06 scale-killer: assignment once
    // shuffled N×K (vec, centroid) rows through a window to take a
    // per-row argmax (~1.6e12 shuffled rows at 1e11 vectors). Both the
    // seed-centroid (q31) and learned (q35) assignment stages must stay
    // narrow — anyone reintroducing the crossJoin+row_number formulation
    // fails here.
    import graft.operators.Similarity
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val seedAssigned = Similarity.assignCells(emb,
      Similarity.collectCentroids(emb, 0, Similarity.NumCentroids))
    val (_, kmAssigned) = Similarity.kmeansIndex(emb,
      Similarity.NumCentroids, maxIter = 2, fitFraction = None)
    Seq("q31 seed-centroid" -> seedAssigned, "q35 k-means" -> kmAssigned)
      .foreach { case (label, assigned) =>
        val plan = assigned.queryExecution.executedPlan.toString
        Seq("Exchange", "Window", "Join").foreach { op =>
          assert(!plan.contains(op),
            s"$label assignment plan contains $op:\n$plan")
        }
      }
  }

  test("q38 per-row feature stage is a single scan of documents") {
    // quality + language gates must fold into ONE pass over the text
    // column, not per-feature self-joins: exactly one documents scan on
    // the probe side (total scans = feats + the dedup keep-list lineage)
    val df = SparkEntry.queries("q38_corpus_filter")(spark, sf)
    val scans = df.queryExecution.executedPlan.toString.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans <= 2, s"expected feats(1) + cluster-labels lineage, got $scans scans")
  }
}
