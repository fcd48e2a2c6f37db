package perfbench

import graft.operators.{Dedup, EmbeddingIncremental, HeavyHitters, SplitPins,
  SubstringDedup}
import graft.streaming.{DedupStream, EmbedStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The four persisted stores, run after `curation_batch`'s timed passes
  * in a traced run: bootstrapped from the curation corpus (day 0), then
  * `Days` days, each admitted by `DedupStream` (with `SplitPins`
  * committing inside it), `EmbedStream`, `SubstringDedup` and
  * `HeavyHitters` in turn. Each store runs at its `MaxLive` cap, so it
  * appends on day 1 and folds on day 2. The two streams watch a
  * landing directory; the day's staged file is moved into it before the
  * admission. Each admission is one recorded span, numbered as an op from
  * `firstOp` on. */
final class StoreDays(spark: SparkSession, a: Args, t: Tracer,
    bootstrapDocs: Int, bootstrapVecs: Int) {
  import StoreDays._

  private val docs = new DocGen(a.seed)
  private val vecs = new VecGen(a.seed)
  private val root = s"${a.work}/stores"
  private val stage = s"$root/stage"

  private def dir(s: String) = s"$root/$s"
  private def landing(kind: String) = s"$root/landing/$kind"

  /** All inputs are generated once and staged as one parquet file per
    * day; day 0 is the bootstrap, the same rows as the curation corpus. */
  private def stageInputs(): Unit = {
    import spark.implicits._
    docs.rows(bootstrapDocs, DocsPerDay, Days + 1).toDF("doc_id", "text", "day")
      .repartition(col("day")).write.partitionBy("day").parquet(s"$stage/docs")
    vecs.rows(bootstrapVecs, VecsPerDay, Days + 1).toDF("vec_id", "embedding", "day")
      .repartition(col("day")).write.partitionBy("day").parquet(s"$stage/vecs")
  }

  private def stagedFile(kind: String, day: Int): java.nio.file.Path = {
    val d = Paths.get(s"$stage/$kind/day=$day")
    val files = Files.list(d)
    try files.iterator().asScala.find(_.toString.endsWith(".parquet")).get
    finally files.close()
  }

  private def dayDf(kind: String, day: Int): DataFrame =
    spark.read.parquet(stagedFile(kind, day).toString)

  /** Land a day's drop for a stream: an atomic move into the watched
    * directory (the streams key files by path). */
  private def landDay(kind: String, day: Int): Unit = {
    Files.createDirectories(Paths.get(landing(kind)))
    Files.copy(stagedFile(kind, day), Paths.get(landing(kind), s"day-$day.parquet.tmp"))
    Files.move(Paths.get(landing(kind), s"day-$day.parquet.tmp"),
      Paths.get(landing(kind), s"day-$day.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def admit(s: String, day: Int): Unit = s match {
    case "dedup" =>
      landDay("docs", day)
      t.span("streaming.DedupStream.admitNewDrops")(
        DedupStream.admitNewDrops(spark, landing("docs"), dir("dedup"),
          dir("dedup-ckpt"), maxLiveSegments = MaxLive(s), buckets = Buckets,
          splitStoreDir = Some(dir("split"))))
    case "embed" =>
      landDay("vecs", day)
      t.span("streaming.EmbedStream.admitNewDrops")(
        EmbedStream.admitNewDrops(spark, landing("vecs"), dir("embed"),
          dir("embed-ckpt"), maxLiveSegments = MaxLive(s)))
    case "substring" =>
      t.span("operators.SubstringDedup.admitDrop")(
        SubstringDedup.admitDrop(spark, dir("substring"), dayDf("docs", day),
          maxLiveSegments = MaxLive(s)))
    case "cms" =>
      t.span("operators.HeavyHitters.admitDrop")(
        HeavyHitters.admitDrop(spark, dir("cms"), dayDf("docs", day),
          maxLiveSegments = MaxLive(s)))
  }

  private val stats = mutable.ArrayBuffer[AdmitRec]()
  private var checksOk = true

  /** Bootstrap (unrecorded), then every day's four recorded admissions,
    * each followed by its manifest check, then chain ≡ batch. Returns
    * whether every check passed. */
  def run(firstOp: Int): Boolean = {
    clock("stage")(stageInputs())
    // the four stores are independent: bootstrap them side by side
    clock("bootstrap")(sideBySide(
      () => {
        landDay("docs", 0)
        DedupStream.admitNewDrops(spark, landing("docs"), dir("dedup"),
          dir("dedup-ckpt"), maxLiveSegments = MaxLive("dedup"), buckets = Buckets,
          splitStoreDir = Some(dir("split")))
      },
      () => {
        landDay("vecs", 0)
        EmbedStream.admitNewDrops(spark, landing("vecs"), dir("embed"),
          dir("embed-ckpt"), maxLiveSegments = MaxLive("embed"))
      },
      () => SubstringDedup.bootstrapStore(spark, dir("substring"), dayDf("docs", 0)),
      () => HeavyHitters.bootstrapSketch(spark, dir("cms"), dayDf("docs", 0))))
    clock("days")(admitDays(firstOp))
    checksOk &= clock("chain_is_batch")(chainIsBatch())
    checksOk
  }

  private val clock = new PhaseClock

  private def admitDays(firstOp: Int): Unit = {
    var op = firstOp
    for (day <- 1 to Days; s <- Stores) {
      val before = files(dir(s)) ++
        (if (s == "dedup") files(dir("split")) else Map.empty)
      val liveBefore = liveSegments(s)
      val input = Files.size(stagedFile(if (s == "embed") "vecs" else "docs", day))
      t.op = op
      t.recording = true
      admit(s, day)
      t.recording = false
      t.drain()
      checksOk &= checkManifest(s, day)
      val splitWritten =
        if (s == "dedup") newBytes(before, files(dir("split"))) else 0L
      stats += AdmitRec(op, s, fold = liveSegments(s) <= liveBefore,
        newBytes(before, files(dir(s))), splitWritten, input)
      op += 1
    }
  }

  /** The committed row counts after an admission equal what was admitted:
    * every vector, every doc's split assignment, every token window and
    * every token 3-gram. */
  private def checkManifest(s: String, d: Int): Boolean = {
    val (store, want) = s match {
      case "dedup" => ("split", docs.count(d))
      case "embed" => ("embed", vecs.count(d))
      case "substring" => ("substring", docs.windows(d, SubstringDedup.DedupK))
      case "cms" => ("cms", docs.windows(d, HeavyHitters.GramN))
    }
    val got = manifest(dir(store)).fold(-1L)(_.totalRows)
    val ok = got == want + (if (a.corruptExpected) 1 else 0)
    if (!ok) System.err.println(
      s"[perfbench] stores: $store manifest holds $got rows after day $d, want $want")
    ok
  }

  /** Chain ≡ batch, for every store, over everything admitted. */
  private def chainIsBatch(): Boolean = {
    val all = (kind: String) => (0 to Days).map(dayDf(kind, _)).reduce(_ union _)
    def same(x: DataFrame, y: DataFrame) =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    val checks = Seq(
      "dedup" -> (() => same(
        graft.operators.IncrementalDedup.labelsWithSizes(
          DedupStream.loadState(spark, dir("dedup")).get),
        Dedup.duplicateClusters(all("docs"), 0.5)
          .select("doc_id", "cluster_id", "cluster_size"))),
      "split" -> (() => {
        val sp = SplitPins.loadSplits(spark, dir("split"))
        sp.count() == docs.count(Days) &&
          sp.select("doc_id").distinct().count() == docs.count(Days)
      }),
      "embed" -> (() => same(
        EmbeddingIncremental.labelsWithSizes(
          EmbeddingIncremental.loadState(spark, dir("embed")).get),
        EmbeddingIncremental.labelsWithSizes(
          EmbeddingIncremental.initialState(all("vecs"))))),
      "substring" -> (() => same(
        SubstringDedup.loadStore(spark, dir("substring")).get.spans,
        SubstringDedup.duplicateSpans(all("docs")))),
      "cms" -> (() => {
        val oneShot = dir("cms-oneshot")
        HeavyHitters.bootstrapSketch(spark, oneShot, all("docs"))
        HeavyHitters.loadGrid(spark, dir("cms")).map(_.toSeq).toSeq ==
          HeavyHitters.loadGrid(spark, oneShot).map(_.toSeq).toSeq
      }))
    // the batch recomputations are independent: run them side by side
    val failed = sideBySide(checks.map { case (name, check) =>
      () => name -> check() }: _*).collect { case (name, false) => name }
    if (failed.nonEmpty)
      System.err.println(s"[perfbench] stores: chain != batch: ${failed.mkString(", ")}")
    failed.isEmpty
  }

  private def liveSegments(s: String): Int = manifest(dir(s)).fold(0)(_.segs)

  def layerMetrics: Map[String, Double] = {
    val ops = stats.map(_.op).toSet
    def p50(span: String) = span + "_s.p50" ->
      Stats.median(t.named(span).filter(s => ops(s.op)).map(_.seconds))
    val jobs = (r: AdmitRec) =>
      t.spans.find(s => s.op == r.op && s.parent < 0).fold(0)(t.jobsOf(_).size)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val perStore = Stores.flatMap { s =>
      val mine = stats.filter(_.store == s).toSeq
      Seq(
        s"store.$s.jobs_per_append" -> mean(mine.filterNot(_.fold).map(jobs(_).toDouble)),
        s"store.$s.jobs_per_fold" -> mean(mine.filter(_.fold).map(jobs(_).toDouble)),
        s"store.$s.bytes_written_per_admitted_byte" ->
          mine.map(_.written).sum.toDouble / math.max(1L, mine.map(_.input).sum),
        s"store.$s.state_bytes" -> Jvm.dirBytes(dir(s)).toDouble,
        s"store.$s.live_segments" -> liveSegments(s).toDouble,
        s"store.$s.folds" -> mine.count(_.fold).toDouble)
    }
    val dedup = stats.filter(_.store == "dedup")
    (Seq("streaming.DedupStream.admitNewDrops", "streaming.EmbedStream.admitNewDrops",
      "operators.SubstringDedup.admitDrop", "operators.HeavyHitters.admitDrop")
      .map(p50) ++ perStore ++ Seq(
      "store.split.bytes_written_per_admitted_byte" ->
        dedup.map(_.splitWritten).sum.toDouble / math.max(1L, dedup.map(_.input).sum),
      "stored_bytes_per_input_byte" ->
        stats.map(r => r.written + r.splitWritten).sum.toDouble /
          math.max(1L, stats.map(_.input).sum))).toMap
  }

  def meta: Map[String, Any] = Map(
    "store_input_sizes" -> Map("bootstrap_docs" -> bootstrapDocs,
      "docs_per_day" -> DocsPerDay, "bootstrap_vecs" -> bootstrapVecs,
      "vecs_per_day" -> VecsPerDay, "days" -> Days, "max_live_segments" -> MaxLive),
    "store_checks_ok" -> checksOk,
    "store_phases_s" -> clock.phases,
    "admissions" -> stats.map(r => Map("op" -> r.op, "store" -> r.store,
      "fold" -> r.fold, "bytes_written" -> r.written,
      "s" -> t.spans.find(s => s.op == r.op && s.parent < 0).fold(0.0)(_.seconds))))
}

object StoreDays {
  /** Runs independent tasks concurrently, each on its own thread; returns
    * their results in order, or throws the first failure. */
  def sideBySide[A](tasks: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(tasks.map(t => Future(t()))),
      scala.concurrent.duration.Duration.Inf)
  }

  val Stores = Seq("dedup", "embed", "substring", "cms")
  val Days = 2
  val DocsPerDay = 30
  val VecsPerDay = 15
  /** Live-segment caps under which each store appends on day 1 and folds
    * on day 2 (`DedupStream` keeps the in-flight segment live one commit
    * longer, so it folds at a cap one lower). */
  val MaxLive = Map("dedup" -> 1, "embed" -> 2, "substring" -> 2, "cms" -> 2)
  val Buckets = 8

  final case class AdmitRec(op: Int, store: String, fold: Boolean,
      written: Long, splitWritten: Long, input: Long)

  /** path -> size of every file under `d`. */
  def files(d: String): Map[String, Long] = {
    val p = Paths.get(d)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  /** The committed manifest of a store, read from disk as any reader
    * would: `CURRENT` names the version, `v$N/MANIFEST` holds its row count
    * and live segments (a seg-log store lists `segs`; `DedupStream` keeps
    * segments `segFrom..N`). */
  final case class Manifest(totalRows: Long, segs: Int)

  def manifest(d: String): Option[Manifest] = {
    val cur = Paths.get(d, "CURRENT")
    if (!Files.isRegularFile(cur)) None
    else {
      val v = Files.readString(cur).trim.toLong
      val txt = Files.readString(Paths.get(d, s"v$v", "MANIFEST"))
      def num(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      val segs = """"segs":\[([\d,]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").count(_.nonEmpty))
        .orElse(num("segFrom").map(f => (v - f + 1).toInt)).get
      Some(Manifest(num("totalRows").getOrElse(-1L), segs))
    }
  }

  /** Bytes of files that are new, or changed size, since `before`. */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
}

/** Seeded documents shaped like the testdata corpus: 8-100 tokens over a
  * small vocabulary, with near-duplicates (an earlier document plus a
  * marker token, possibly from an earlier day) and a boilerplate sentence
  * in some documents (shared spans, heavy 3-grams). Day 0 is the
  * bootstrap. */
final class DocGen(seed: Long) {
  private val vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ")
  private val boilerplate = "terms of use apply to all content on this site " +
    "please read the privacy policy before you continue"
  private val texts = mutable.ArrayBuffer[String]()
  private val perDay = mutable.ArrayBuffer[Int]()

  def rows(boot: Int, daily: Int, days: Int): Seq[(Long, String, Int)] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    (0 until days).flatMap { d =>
      val n = if (d == 0) boot else daily
      perDay += n
      (0 until n).map { _ =>
        val id = texts.size.toLong
        val text =
          if (texts.nonEmpty && r.nextInt(16) == 0) texts(r.nextInt(texts.size)) + " dup"
          else {
            val body = Seq.fill(8 + r.nextInt(93))(vocab(r.nextInt(vocab.length)))
              .mkString(" ")
            if (r.nextInt(12) == 0) s"$body $boilerplate" else body
          }
        texts += text
        (id, text, d)
      }
    }
  }

  private def upTo(day: Int) = texts.take(perDay.take(day + 1).sum)

  def count(day: Int): Long = perDay.take(day + 1).sum.toLong

  /** Token windows of length k (k-grams) over every doc up to `day`. */
  def windows(day: Int, k: Int): Long =
    upTo(day).map(t => math.max(0, t.split(" ").length - k + 1).toLong).sum
}

/** Seeded unit vectors shaped like the testdata embeddings (64 dims). */
final class VecGen(seed: Long) {
  private val perDay = mutable.ArrayBuffer[Int]()

  def rows(boot: Int, daily: Int, days: Int): Seq[(Long, Array[Float], Int)] = {
    val r = new java.util.Random(seed * 17 + 3)
    var id = 0L
    (0 until days).flatMap { d =>
      val n = if (d == 0) boot else daily
      perDay += n
      (0 until n).map { _ =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        id += 1
        (id - 1, v.map(x => (x / norm).toFloat), d)
      }
    }
  }

  def count(day: Int): Long = perDay.take(day + 1).sum.toLong
}
