package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextFns

/** Count-Min-Sketch heavy-hitter detection with exact verification
  * (q88) — bounded-memory hot-key detection over token n-grams, the
  * instrument a 100-TB curation run points at boilerplate n-grams and
  * hot domains BEFORE they melt a shuffle (and the principled
  * pre-detector for skew knobs like [[SubstringDedup.duplicateSpans]]'s
  * `saltBuckets`). The public CMS construction (Cormode & Muthukrishnan
  * 2005): a depth×width counter grid, each occurrence incrementing one
  * counter per row under that row's hash; a key's estimate is the MIN
  * over its row counters — never an undercount, overcount bounded by
  * (e/width)·N with probability 1−e^(−depth).
  *
  * Why a sketch when `groupBy(gram).count()` exists: the exact
  * aggregation's state is the DISTINCT key space — most of N for
  * n-grams (measured: 16.5k distinct in 27k occurrences at sf0.01), a
  * corpus-sized shuffle to answer a question about the top handful.
  * The CMS pipeline's state is the fixed grid regardless of N:
  *
  *   1. BUILD: one narrow pass explodes each occurrence to its depth
  *      (row, bucket) cells; the aggregation's key space is the GRID
  *      (≤ depth·width cells), so map-side partial aggregation
  *      collapses every task's output to grid size — the shuffle moves
  *      cells, not keys.
  *   2. The grid collects to the driver (≤ [[CmsDepth]]·[[CmsWidth]]
  *      longs — 1 MB at the default sizing) and returns to executors as
  *      ONE task broadcast probed inside `mapPartitions` — the
  *      [[Dedup.semanticDedup]] centroid shape, NOT plan literals: a
  *      real CMS is sized to the stream (width ~ e/ε), megabytes that
  *      no expression tree should carry.
  *   3. CANDIDATES + EXACT VERIFY, fused: occurrences whose estimate
  *      clears the support threshold survive the narrow broadcast-probe
  *      filter; since the estimate is a property of the GRAM, every
  *      occurrence of a qualifying gram survives, so `groupBy(gram)`
  *      over the survivors IS the exact count — one bounded aggregation
  *      whose key space is the candidate set, no separate re-count
  *      join.
  *
  * SIZING INVARIANT: the relative support term N div [[SupportDivisor]]
  * and the overcount bound e·N/[[CmsWidth]] are COUPLED — their ratio
  * is width/(e·divisor) ≈ 1.47 at every N — so the threshold stays
  * above the sketch's noise floor at any stream size (the r19 first cut
  * learned this the hard way: a 1024-wide grid at N = 27k had noise
  * floor ≥ threshold and flagged 1717 false positives out of 1721).
  * [[MinSupport]] is the absolute floor for small corpora.
  *
  * CMS-completeness makes the candidate set a SUPERSET of the true
  * heavy hitters (estimate ≥ count always), so the exact column
  * separates true hitters from hash-collision false positives — the
  * q32 sketch-plus-exact-derivative recipe. Every hash is the portable
  * md5-derived [[TextFns.hash60]] family, so DuckDB replays the ENTIRE
  * sketch — grid, estimates, candidates, exact counts, bound booleans —
  * and the driver hash-pins all of it (stronger than a pinned-TRUE
  * boolean).
  */
object HeavyHitters {

  /** Grid depth: 4 rows → false-positive-per-query probability
    * e^(−4) ≈ 0.018 at the ε bound. */
  val CmsDepth = 4

  /** Grid width: 32768 buckets → overcount bound (e/32768)·N ≈
    * N/12055. 4×32768 longs = 1 MB — broadcast material. */
  val CmsWidth = 32768

  /** Support threshold: a gram is a candidate when its estimate ≥
    * max([[MinSupport]], N div [[SupportDivisor]]). The divisor is
    * coupled to the width (see the sizing invariant above); the floor
    * is sized under the planted fixture's 40 copies and above the
    * corpus's organic maximum (measured 25 at sf0.1), integer
    * arithmetic, oracle-portable. */
  val SupportDivisor = 8192L
  val MinSupport = 32L

  /** Token n-gram length ([[TextFns.shingles]]' default 3 — the same
    * gram family the MinHash dedup shingles on, so a hot gram here is
    * exactly a hot shingle there). */
  val GramN = 3

  /** Row-d bucket of a gram: the portable 60-bit md5 hash of
    * `"d:gram"` mod width — one independent hash per grid row from the
    * same md5 family as [[Similarity.planeWeight]]. */
  def bucketCol(d: Int, gram: Column, width: Int = CmsWidth): Column =
    pmod(TextFns.hash60(concat(lit(s"$d:"), gram)), lit(width.toLong))

  /** Executor-side twin of [[bucketCol]] — the identical md5-hex-prefix
    * hash in plain Scala, so the broadcast-probe filter needs no
    * Catalyst evaluation. Agreement with the column expression is
    * spec-pinned (the whBucketLocal pattern). `md` is caller-supplied
    * so a partition reuses one digest instance. */
  private[graft] def bucketLocal(d: Int, gram: String, width: Int,
      md: java.security.MessageDigest): Int = {
    md.reset()
    val dig = md.digest(s"$d:$gram".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    // hash60 = first 15 hex chars of the md5 = the top 60 bits
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    h = (h << 4) | ((dig(7) & 0xf0L) >> 4)
    (h % width).toInt // h is 60-bit nonnegative
  }

  /** Gram OCCURRENCES (multiset, one row per position) — deliberately
    * not the distinct shingle set: heavy-hitter mass counts repeats.
    *
    * Small-scan fan-out: both CMS passes do per-occurrence md5 work
    * (depth hashes per gram), so a corpus that arrives as fewer input
    * splits than cores would serialize that compute on the scan tasks
    * (measured: the sf0.1 single-file corpus ran both passes ~2 cores
    * wide, 7 s; sf10's 36 files parallelized naturally at 6.8× the
    * wall for 100× the rows). When underparallel, repartition the THIN
    * docs relation before the explode — a shuffle of the raw text
    * bytes, trivial for exactly the corpora that trigger it and a
    * no-op at deployment scale where split count ≥ cores. */
  /** The repartition decision of [[gramOcc]]'s scaladoc, hoisted so a
    * caller that feeds BOTH passes (build + candidate) resolves it once
    * — `docs.rdd.getNumPartitions` forces physical planning, and the
    * two-pass [[heavyGrams]] used to pay it (and potentially the text
    * reshuffle) twice per query (r19 advice). */
  private def widened(docs: DataFrame): DataFrame = {
    val cpus = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < cpus) docs.repartition(cpus) else docs
  }

  private def gramOcc(src: DataFrame): DataFrame =
    // the fused [[graft.functions.TokenGrams]] expression: one tokenize
    // + byte-slice per gram. The previous composable form (tokens bound
    // in their own projection, then transform/slice/concat_ws — the r19
    // fix) still evaluated the lambda INTERPRETED per gram, which was
    // the remaining CPU floor of both CMS passes (r21 measurement;
    // byte-equality with the composable form is pinned in
    // WindowExpressionsSpec, and the q88/q90 oracles replay the same
    // grams in DuckDB).
    src.select(explode(
      graft.functions.TokenWindowFns.tokenGrams(col("text"), GramN))
      .as("gram"))

  /** All candidate heavy grams with their CMS estimate, exact count,
    * and the CMS contract booleans:
    * (gram, cms_count, exact_count, within_bound). `within_bound` =
    * `exact ≤ cms ≤ exact + ⌈(e/width)·N⌉` — the lower bound is the
    * structural never-undercount guarantee (a violation means the
    * sketch itself is broken), the upper the probabilistic overcount
    * bound evaluated honestly on this corpus. */
  /** The grid-cell relation of one doc set: (d, bucket, c) — the BUILD
    * pass, shared by the one-shot sketch and the per-admission segment
    * writes of the persisted store ([[bootstrapSketch]]/[[admitDrop]]).
    * Cell keys are bounded by the grid, so partial aggregation
    * collapses map-side; ≤ depth·width rows result. */
  // `docs` must already be [[widened]] — every caller widens once at its
  // entry point so the getNumPartitions planning probe runs once per query
  private def cellRel(docs: DataFrame, depth: Int, width: Int): DataFrame =
    gramOcc(docs)
      .select(posexplode(array(
        (0 until depth).map(d => bucketCol(d, col("gram"), width)): _*))
        .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  private def gridOf(cells: Array[org.apache.spark.sql.Row], depth: Int,
      width: Int): Array[Array[Long]] = {
    val grid = Array.fill(depth, width)(0L)
    cells.foreach(r => grid(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    grid
  }

  /** CANDIDATES + fused EXACT VERIFY against a (driver-held) grid:
    * narrow broadcast-probe filter, survivors' groupBy is the exact
    * count (every occurrence of a qualifying gram survives). */
  private def candidatesWithExact(docs: DataFrame, grid: Array[Array[Long]],
      depth: Int, width: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = grid(0).sum
    val threshold = math.max(MinSupport, n / SupportDivisor)
    val overBound = math.ceil(math.E * n / width).toLong
    val gridB = spark.sparkContext.broadcast(grid)
    gramOcc(docs).as[String]
      .mapPartitions { grams =>
        val g = gridB.value
        val md = java.security.MessageDigest.getInstance("MD5")
        grams.flatMap { gram =>
          var est = Long.MaxValue
          var d = 0
          while (d < depth) {
            val c = g(d)(bucketLocal(d, gram, width, md))
            if (c < est) est = c
            d += 1
          }
          if (est >= threshold) Some((gram, est)) else None
        }
      }
      .toDF("gram", "cms_count")
      .groupBy(col("gram"), col("cms_count"))
      .agg(count(lit(1)).as("exact_count"))
      .select(col("gram"), col("cms_count"), col("exact_count"),
        (col("cms_count") >= col("exact_count") &&
          col("cms_count") <= col("exact_count") + lit(overBound))
          .as("within_bound"))
  }

  def heavyGrams(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    // resolve the repartition decision ONCE for both passes
    val src = widened(docs)
    val cells = cellRel(src, depth, width).collect()
    candidatesWithExact(src, gridOf(cells, depth, width), depth, width)
  }

  // ---- auto-salt pre-detection (the q88 purpose statement, now wired) ----

  /** Hot-key floor for [[suggestSalt]]: a key must hold at least this
    * many occurrences before salting can pay (the salt grid's ~(B/2)×
    * replication needs a quadratic join group to amortize against). */
  val SaltMinCount = 64L

  /** Relative support for [[suggestSalt]]: threshold = max(
    * [[SaltMinCount]], N div SaltDivisor). Coupled to [[CmsWidth]] the
    * same way as the q88 invariant: the sketch noise floor e·N/width ≈
    * N/12055 sits well under N/4096, so a flagged key carries real
    * mass, not collision noise, at any N. */
  val SaltDivisor = 4096L

  /** Cap on the flagged-key literals pushed into the hot/cold split
    * filters (the [[IncrementalDedup.KeyPushMax]] plan-bloat rationale).
    * More flagged keys than this means the key space is pervasively
    * hot — the caller salts EVERYTHING instead (still row-identical). */
  val MaxSaltKeys = 256

  /** CMS-detected heavy VALUES of `keys`' single (string) column — the
    * generic sibling of the gram pipeline and the principled
    * pre-detector for the skew knobs ([[SubstringDedup.duplicateSpans]]
    * `autoSalt`, the salt-grid joins): one narrow build pass collapses
    * to the 1 MB grid (map-side partial agg — the shuffle moves grid
    * cells, not keys), then a broadcast-probe FILTER-then-distinct
    * keeps the distinct aggregation bounded by the hot mass instead of
    * the key space. Returns up to maxKeys+1 flagged values (length >
    * maxKeys signals overflow — salt everything). CMS never
    * undercounts, so every true heavy key is flagged; an overcount
    * false positive merely salts a cold key — harmless for row
    * identity, never for correctness. */
  def suggestSalt(keys: DataFrame, minCount: Long = SaltMinCount,
      divisor: Long = SaltDivisor, maxKeys: Int = MaxSaltKeys):
      Array[String] = {
    val spark = keys.sparkSession
    import spark.implicits._
    val kcol = keys.columns.head
    val src = widened(keys.select(col(kcol).as("k")))
    val cells = src
      .select(posexplode(array(
        (0 until CmsDepth).map(d => bucketCol(d, col("k"), CmsWidth)): _*))
        .as(Seq("d", "bucket")))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("c")).collect()
    val grid = gridOf(cells, CmsDepth, CmsWidth)
    val n = grid(0).sum
    val threshold = math.max(minCount, n / divisor)
    val gridB = spark.sparkContext.broadcast(grid)
    src.as[String]
      .mapPartitions { ks =>
        val g = gridB.value
        val md = java.security.MessageDigest.getInstance("MD5")
        ks.filter { key =>
          var est = Long.MaxValue
          var d = 0
          while (d < CmsDepth) {
            val c = g(d)(bucketLocal(d, key, CmsWidth, md))
            if (c < est) est = c
            d += 1
          }
          est >= threshold
        }
      }
      .distinct()
      .take(maxKeys + 1)
  }

  // ---- persisted sketch store (the VersionedIndex protocol) --------------

  /** CMS grids are LINEAR — grid(A ∪ B) = grid(A) + grid(B) cell-wise —
    * so the persisted sketch admits a daily drop by appending the
    * BATCH's own cell relation as a log segment (≤ depth·width rows, a
    * few hundred KB: O(grid) per day, never the corpus) and the current
    * grid is the cell-wise sum over committed segments. Chained
    * admissions therefore equal the one-shot sketch EXACTLY (not
    * approximately — q90's oracle is q88's SQL verbatim, the q62/q85
    * equality pattern). Layout:
    *
    * {{{
    * dir/
    *   CURRENT  v$N/MANIFEST
    *   cells/seg=$M/    # one O(grid) segment per admission
    * }}}
    *
    * Past `maxLiveSegments` the commit folds the summed grid into one
    * segment (O(grid) work — folding a SKETCH is cheap, unlike the
    * window/bucket logs whose folds rewrite corpus-sized relations).
    * The manifest's committed size is the cumulative occurrence mass N
    * (the threshold input), so loading never re-reads documents.
    *
    * The cell log is written from the rows collected to the driver — the
    * cell relation is GRID-BOUNDED material (≤ depth·width rows ≈ 1 MB
    * at the default sizing, the same driver bound [[heavyGrams]]'
    * broadcast already relies on), so one collect job plus a local
    * one-task write replaces a distributed write and a post-write mass
    * read. Its size is the d=0 mass of the rows in hand. */
  private val Cells = VersionedIndex.Log("cells",
    "d INT, bucket BIGINT, c BIGINT", layout = VersionedIndex.Collected(
      _.iterator.filter(_.getInt(0) == 0).map(_.getLong(2)).sum),
    fold = Some(sumCells))

  /** Cell-wise sum: the fold reducer and the committed grid. */
  private def sumCells(cells: DataFrame): DataFrame =
    cells.groupBy(col("d"), col("bucket")).agg(sum(col("c")).as("c"))

  def bootstrapSketch(spark: SparkSession, dir: String,
      docs: DataFrame): Unit =
    VersionedIndex.bootstrap(spark, dir, Seq(Cells)) {
      _.seg(Cells, cellRel(widened(docs), CmsDepth, CmsWidth))
    }

  /** Appends the batch's cells, or folds the summed grid into one
    * segment. Appends keep AQE: the one shuffle is collected
    * grid-bounded material. */
  def admitDrop(spark: SparkSession, dir: String, newDocs: DataFrame,
      maxLiveSegments: Int = 16): Unit =
    VersionedIndex.appendOrFold(spark, dir,
      s"$dir holds no committed sketch — bootstrapSketch first",
      Seq(Cells), VersionedIndex.segmentCap(maxLiveSegments), sizeBy = Nil) {
      _.seg(Cells, cellRel(widened(newDocs), CmsDepth, CmsWidth))
    }

  /** The committed grid: cell-wise sum over the live segments —
    * ≤ segments·depth·width rows aggregated to one grid, no document
    * read. */
  def loadGrid(spark: SparkSession, dir: String): Array[Array[Long]] = {
    val m = VersionedIndex.metaOrThrow(dir)
    gridOf(sumCells(VersionedIndex.readLog(spark, dir, Cells, m))
      .collect(), CmsDepth, CmsWidth)
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** Planted boilerplate fixture (ids disjoint from corpus and every
    * other fixture family; vocabulary disjoint so fixture grams cannot
    * merge with organic ones): [[BoilerplateCopies]] docs sharing one
    * 5-token license line — its three interior 3-grams each occur once
    * per carrier, clearing [[MinSupport]] at every gated scale (the
    * corpus's organic maximum stays below it: 25 at sf0.1) — plus
    * distinct per-doc filler that stays far below threshold. */
  val BoilerplateCopies = 40

  val BoilerplateFixture: Seq[(Long, String)] = {
    val plate = "bp01 bp02 bp03 bp04 bp05"
    (0 until BoilerplateCopies).map { i =>
      (4300000L + i, s"fl${i}a fl${i}b $plate fl${i}c")
    }
  }

  private def fixtureValues: String =
    BoilerplateFixture.map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  /** q88: CMS heavy hitters over corpus ∪ boilerplate fixture. The
    * oracle replays the full sketch from the same md5 hash family —
    * grid cells, min-estimates, threshold, candidate set, exact counts,
    * bound booleans — so the hash pins the sketch numerics themselves,
    * not just a derived boolean. */
  def qCmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    heavyGrams(Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(BoilerplateFixture.toDF("doc_id", "text")))
  }

  /** q90: the persisted incremental sketch — three daily drops
    * (`pmod(doc_id, 3)` over corpus ∪ fixture) chained through
    * bootstrap + append + fold commits, then the heavy-hitter relation
    * computed from the LOADED grid. CMS linearity makes the chained
    * grid EQUAL the one-shot grid cell for cell, so the output is
    * q88's relation exactly and the oracle is q88's SQL verbatim. The
    * incremental claim (per-day writes are O(grid), old docs never
    * re-read on an append day) is spec- and stamp-pinned. */
  def qCmsIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(BoilerplateFixture.toDF("doc_id", "text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q90").toString
    def day(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    bootstrapSketch(s, s"$root/state", day(0))
    admitDrop(s, s"$root/state", day(1), maxLiveSegments = 2) // append
    admitDrop(s, s"$root/state", day(2), maxLiveSegments = 2) // fold
    val grid = loadGrid(s, s"$root/state")
    try org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
    catch { case _: Exception => }
    candidatesWithExact(widened(docs), grid, CmsDepth, CmsWidth)
  }

  /** Chained sketch ≡ one-shot: q88's oracle verbatim (set after
    * qCmsHeavyHittersSql below — object init order). */
  def qCmsIncrementalSql: String = qCmsHeavyHittersSql

  val qCmsHeavyHittersSql: String = {
    val h = (d: Int) =>
      s"(('0x' || substr(md5('$d:' || gram), 1, 15))::BIGINT) % $CmsWidth"
    val cellJoins = (0 until CmsDepth).map { d =>
      s"JOIN cells c$d ON c$d.d = $d AND c$d.bucket = ${h(d)}"
    }.mkString("\n  ")
    val minEst = "LEAST(" +
      (0 until CmsDepth).map(d => s"c$d.c").mkString(", ") + ")"
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $fixtureValues) fx(doc_id, text)),
       |occ AS (
       |  SELECT unnest(list_transform(
       |    range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - ${GramN - 1}, 1) + 1),
       |    i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + ${GramN - 1}), ' ')))
       |    AS gram
       |  FROM src),
       |cells AS (
       |  SELECT d, (('0x' || substr(md5(d::VARCHAR || ':' || gram), 1, 15))::BIGINT) % $CmsWidth AS bucket,
       |         COUNT(*)::BIGINT AS c
       |  FROM occ CROSS JOIN (SELECT unnest(range($CmsDepth)) AS d) ds
       |  GROUP BY 1, 2),
       |params AS (
       |  SELECT GREATEST($MinSupport, (SELECT COUNT(*) FROM occ) // $SupportDivisor)::BIGINT AS threshold,
       |         CAST(CEIL(2.718281828459045 * (SELECT COUNT(*) FROM occ) / $CmsWidth) AS BIGINT) AS over_bound),
       |est AS (
       |  SELECT gram, $minEst AS cms_count
       |  FROM occ
       |  $cellJoins),
       |agg AS (
       |  SELECT gram, cms_count, COUNT(*)::BIGINT AS exact_count
       |  FROM est CROSS JOIN params
       |  WHERE cms_count >= threshold
       |  GROUP BY 1, 2)
       |SELECT gram, cms_count, exact_count,
       |       (cms_count >= exact_count AND
       |        cms_count <= exact_count + (SELECT over_bound FROM params)) AS within_bound
       |FROM agg ORDER BY gram""".stripMargin
  }
}
