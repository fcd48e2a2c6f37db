package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The atomic versioned-commit protocol of every persisted store: the
  * ANN index stores ([[Similarity.buildIvfIndex]]'s centroids +
  * assignments, the PQ and IVF-PQ stores), the four log stores
  * ([[SplitPins]], [[HeavyHitters]], [[SubstringDedup]],
  * [[EmbeddingIncremental]]) and the dedup state store
  * ([[graft.streaming.DedupStream]]). This object is the only code that
  * reads or writes `CURRENT` and `v$N/MANIFEST`, and the only code that
  * names a store's segment, part and model paths:
  *
  * {{{
  * indexDir/
  *   CURRENT                # last committed version number (atomic move)
  *   v$N/MANIFEST           # {<store members>,"buildId":…,"retain":…,"segs":[…]}
  *   v$N/<model dirs>       # per-version relations (centroids, codebook, remap)
  *   <log>/seg=$M/…         # one-tier store: one segment per committing version
  *   <log>/seg$M/           # two-tier store: a day segment, one file
  *   <log>/base/cpart=$j/…  # two-tier store: a base part, a [[Tiered]] log's
  *                          #   one file per bucket (`<bucket>=$k/`)
  * }}}
  *
  * Each store declares its data logs once, as data ([[Log]]: name,
  * schema, partition columns, [[Layout]], fold reducer), and every commit
  * runs through one skeleton: [[appendOrFold]] for the log and index
  * stores, [[advance]] for the dedup store's own fold policy, and
  * [[bootstrap]] and [[rebuild]] for whole writes. The skeleton takes the
  * store's fold decision on the manifest, runs the body on an
  * [[Admission]], whose writer writes the batch or, on a fold, the log's
  * reducer over committed ∪ batch, then commits. The log stores fold past
  * a cap on live parts and segments ([[segmentCap]]); the ANN index
  * stores' fold is a drift retrain that writes their logs whole.
  *
  * A store is one-tier or two-tier. In a one-tier store every version
  * writes each log as `<log>/seg=$N`: the batch on an append, the whole
  * log on a fold. A store with a [[Tiered]] log is two-tier, an LSM in
  * miniature: an append writes its batch as one day segment per log,
  * `<log>/seg$N`, and a version that writes a log whole (a bootstrap, a
  * fold, a re-bucketing [[rebuild]]) writes a base part
  * `<log>/base/cpart=$j`, bucketed for a [[Tiered]] log so that a probe
  * prunes to the buckets it touches. A [[Fold]] names what the new part
  * takes in.
  *
  * The manifest holds the protocol's members — `buildId`, the streaming
  * replay guard, `retain` and `segs`, the live segments; a two-tier
  * store's `parts`, its live base parts, and `buckets`, its bucket count,
  * fixed by the first commit and changed only by a re-bucketing
  * [[rebuild]] — and each store's own, which [[commit]] writes as given
  * and [[Meta]] parses strictly when read: `totalRows`, the committed
  * size of a store's first log (its rows, or the sketch's occurrence
  * mass), so no append runs a count job over the corpus, and
  * `trainedRows`, `totalRows` as of the last whole write (the index
  * stores' drift baseline; no reader of a log store uses it); the dedup
  * store's bucket owners (`owners`, `migratedFrom`).
  *
  * Readers list exactly the manifest's parts and segments, each its own
  * partition base, and fail on one that is missing: a crashed commit's
  * half-written segment or part is invisible, and the retry overwrites
  * it. A read lists its files on the driver ([[graft.FileSet]]), so
  * building it starts no Spark job, however many bucket files a part
  * holds. Retention after each promote keeps the latest `retain`
  * versions' dirs, parts and segments (in-flight readers of the prior
  * commit stay valid) and deletes the rest.
  *
  * Every path here goes through `java.io.File`, so a store dir must be
  * a driver-local path; [[requireLocalFs]] rejects a URI at every entry
  * point before anything is written. */
private[graft] object VersionedIndex {

  /** The committed state a reader resolves: the version, its live log
    * segments, and the manifest's raw members (JSON values by name).
    * `segs` is parsed when the manifest is resolved, so a corrupt
    * manifest fails there; a store's own members are parsed strictly by
    * [[num]] / [[nums]] when the store reads them. */
  final case class Meta(version: Long, members: Map[String, String]) {
    private def unreadable(k: String): Nothing =
      throw new IllegalStateException(s"unreadable index manifest v$version: " +
        s"member '$k' is missing or malformed in $members")

    def num(k: String): Long =
      members.get(k).flatMap(_.toLongOption).getOrElse(unreadable(k))

    def nums(k: String): Vector[Long] = members.get(k).collect {
      case LongArray(null) => Vector.empty[Long]
      case LongArray(xs) => xs.split(",").map(_.toLong).toVector
    }.getOrElse(unreadable(k))

    val segs: Vector[Long] = nums("segs")
    /** Whether the store is two-tier; only a two-tier store has base
      * parts and a bucket count. */
    val tiered: Boolean = members.contains("parts")
    val parts: Vector[Long] = if (tiered) nums("parts") else Vector.empty
    def buckets: Int = num("buckets").toInt
    def trainedRows: Long = num("trainedRows")
    def totalRows: Long = num("totalRows")
    def retainVersions: Option[Int] = members.get("retain").map(_.toInt)
    def buildId: String = members.get("buildId")
      .map(_.stripPrefix("\"").stripSuffix("\"")).getOrElse(unreadable("buildId"))

    /** The streaming replay guard: the (checkpoint identity, micro-batch
      * id) that produced this version. A crash between this commit and
      * the streaming checkpoint's own commit redelivers the same batch,
      * and the recorded pair lets the admission skip it instead of
      * double-admitting. */
    def stream: Option[(String, Long)] = for {
      c <- members.get("streamCkptId")
      b <- members.get("streamBatchId")
    } yield (graft.Par.jsonUnescape(c.stripPrefix("\"").stripSuffix("\"")),
      b.toLong)
  }

  private val LongArray = """\[(\d+(?:,\d+)*)?\]""".r
  private val Member = """"(\w+)":("(?:[^"\\]|\\.)*"|\[[\d,]*\]|\d+)""".r

  /** The protocol runs on `java.io.File`, i.e. a store dir MUST be a
    * driver-local filesystem path. On a URI the File calls would not
    * fail loudly: Spark resolves the scheme and writes the segments,
    * while the pointer and manifest land in a relative `./file:…` dir
    * and the store later reads as lost. `file:` URIs are rejected too,
    * for the same reason. A port to object storage replaces this guard
    * and the File calls with one filesystem abstraction (Hadoop's). */
  def requireLocalFs(dir: String): Unit =
    require("^[A-Za-z][A-Za-z0-9+.-]*:".r.findFirstIn(dir).isEmpty,
      s"store dir must be a driver-local filesystem path, got '$dir' — " +
        "the commit protocol (pointer swap, manifest, segment sizing) is " +
        "java.io.File-based and would misplace or misread a URI")

  def currentVersion(indexDir: String): Option[Long] = {
    requireLocalFs(indexDir)
    val f = new java.io.File(indexDir, "CURRENT")
    if (f.isFile) Some(java.nio.file.Files.readString(f.toPath).trim.toLong)
    else None
  }

  def meta(indexDir: String): Option[Meta] =
    currentVersion(indexDir).map(v => metaAt(indexDir, v))

  /** Time-travel resolve: the committed state of a RETAINED version —
    * retention keeps the latest `retainVersions` commits (default 2:
    * current + previous), so an in-flight reader of a prior commit, or
    * an explicit read-at-version, stays valid across `retainVersions-1`
    * promotes. Throws, naming the version, once retention has reclaimed
    * it. */
  def metaAt(indexDir: String, v: Long): Meta = {
    requireLocalFs(indexDir)
    val f = new java.io.File(indexDir, s"v$v/MANIFEST")
    if (!f.isFile) throw new IllegalStateException(
      s"$indexDir/v$v has no MANIFEST — lost or deleted committed state")
    Meta(v, Member.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2)).toMap)
  }

  /** The error of a read or an index append at a dir with no store. */
  def noIndex(dir: String): String =
    s"$dir holds no committed index (no CURRENT pointer) — build one first"

  def metaOrThrow(indexDir: String): Meta = meta(indexDir).getOrElse(
    throw new IllegalStateException(noIndex(indexDir)))

  /** Whether the committed version at `dir` already admitted micro-batch
    * `stream` = (checkpoint identity, batch id) of the same streaming
    * lineage — a redelivery to skip. A fresh checkpoint's restarted ids
    * carry another identity and are not mistaken for one. */
  def admitted(dir: String, stream: (String, Long)): Boolean =
    meta(dir).flatMap(_.stream).exists { case (c, b) =>
      c == stream._1 && b >= stream._2 }

  private def segDir(dir: String, log: String, v: Long, tiered: Boolean): String =
    if (tiered) s"$dir/$log/seg$v" else s"$dir/$log/seg=$v"

  private def partDir(dir: String, log: String, j: Long): String =
    s"$dir/$log/base/cpart=$j"

  /** One data log of a store, declared once: its name (the dir under
    * the store root), data schema, the partition columns below a segment
    * that a read discovers from paths (e.g. `cid INT`), its file
    * [[Layout]] and its fold reducer. On a fold, [[Admission.seg]]
    * writes `fold(committed ∪ batch)`; the default is concatenation.
    * `None` marks a log whose body writes it whole on a fold: the ANN
    * index logs (a retrain re-encodes the corpus) and the embedding
    * labels (the fold applies the composed remap). */
  final case class Log(name: String, ddl: String, partitionDdl: String = "",
      layout: Layout = OneFile(),
      fold: Option[DataFrame => DataFrame] = Some(identity)) {
    /** The relation a read returns: the data schema, the partition
      * columns, and a [[Tiered]] log's bucket column. */
    def schema: StructType = StructType.fromDDL((Seq(ddl, partitionDdl) ++
      (layout match { case Tiered(b, _, _) => Seq(s"$b INT"); case _ => Nil }))
      .filter(_.nonEmpty).mkString(", "))
  }

  /** One relation over the committed parts and segments of `log` at `m`,
    * in [[Log.schema]]: a part stores a [[Tiered]] log's bucket as
    * partition dirs, a day segment computes it. A log with no data file
    * reads as an empty relation of the same schema, so an empty log still
    * joins on its partition key. */
  def readLog(spark: SparkSession, indexDir: String, log: Log, m: Meta): DataFrame =
    readTiers(spark, indexDir, log, m, m.parts, m.segs)

  private def readTiers(spark: SparkSession, dir: String, log: Log, m: Meta,
      parts: Seq[Long], segs: Seq[Long]): DataFrame = {
    def committed(p: String): String = {
      if (!new java.io.File(p).isDirectory) throw new IllegalStateException(
        s"committed index v${m.version} references ${p.stripPrefix(s"$dir/")} " +
          s"but $p does not exist — lost or deleted committed state")
      p
    }
    // the parts, and a one-tier store's segments, are partitions of one
    // base dir (`cpart=`, `seg=`); a two-tier store's day segments are
    // plain dirs, each its own base
    val base = scan(spark, log, parts.map(j => committed(partDir(dir, log.name, j))),
      Some(s"$dir/${log.name}/base" -> "cpart"))
    val days = scan(spark, log,
        segs.map(v => committed(segDir(dir, log.name, v, m.tiered))),
        Option.when(!m.tiered)(s"$dir/${log.name}" -> "seg"))
      .map(df => log.layout match {
        case Tiered(b, of, _) => df.withColumn(b, of(m.buckets))
        case _ => df
      })
    (base ++ days).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[Row](), log.schema))
  }

  /** One parquet scan over the data files under `roots`, or None when
    * they hold no file. With `base` = (dir, column) the roots are
    * partitions `column=…` of that dir, and the column is dropped;
    * without, each root is its own base. The partition columns below are
    * typed by [[Log.schema]]. The files are listed on the driver
    * ([[graft.FileSet]]) and handed to the file index, which would
    * otherwise list more than `parallelPartitionDiscovery.threshold` (32)
    * paths or subdirs with a Spark job: a 64-bucket part did, once per
    * read. */
  private def scan(spark: SparkSession, log: Log, roots: Seq[String],
      base: Option[(String, String)]): Option[DataFrame] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    val listed = roots.map(graft.FileSet.list(spark, _)).filter(_.files.nonEmpty)
    if (listed.isEmpty) None
    else {
      val leaves = listed.map(l => new Path(l.root) -> l.files.map(f =>
        new FileStatus(f.length, false, 1, 32L << 20, f.mtime,
          new Path(s"${l.root}/${f.path}"))).toArray)
      val cache = new FileStatusCache {
        private val byRoot = leaves.toMap
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byRoot.get(p)
        override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, leaves.map(_._1),
        base.map { case (b, _) => "basePath" -> b }.toMap, Some(log.schema), cache)
      val df = spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, StructType.fromDDL(log.ddl), None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty)(spark))
      Some(base.fold(df)(b => df.drop(b._2)))
    }
  }

  /** Versions every commit keeps readable (current inclusive). The
    * default preserves the original current+previous contract; a
    * deployment that needs deeper time travel ([[metaAt]] /
    * `loadStateAt` audit reads) raises it per commit, and each
    * manifest RECORDS the depth used (`"retain"`) so the reachability
    * boundary is auditable from the store itself. */
  val DefaultRetainVersions: Int = 2

  /** The row-counting stores' own manifest members. */
  def rows(trainedRows: Long, totalRows: Long): Seq[(String, Any)] =
    Seq("trainedRows" -> trainedRows, "totalRows" -> totalRows)

  private def json(v: Any): String = v match {
    case xs: Iterable[_] => xs.mkString("[", ",", "]")
    case s: String => "\"" + graft.Par.jsonEscape(s) + "\""
    case n: Int => n.toString
    case n: Long => n.toString
  }

  /** Publish version `next` (every segment, part and model it lists is
    * already written): manifest — the store's `members` (integers,
    * integer arrays or strings; a two-tier store's `parts` and
    * `buckets` among them), then the protocol's — atomic pointer move,
    * then retention. `logs` names the data-log roots to prune. */
  def commit(indexDir: String, next: Long, members: Seq[(String, Any)],
      segs: Vector[Long], logs: Seq[String] = Nil,
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions): Unit = {
    require(retainVersions >= 1,
      s"retainVersions must be >= 1, got $retainVersions")
    // single-writer guard: the protocol assumes one writer per index
    // dir; a double-launched append would interleave seg overwrites and
    // silently lose a batch. Detect the realistic double-commit: if
    // v$next is ALREADY COMMITTED (CURRENT >= next) another writer won
    // the race — fail loudly instead of re-publishing over it. A
    // manifest left by a CRASHED attempt (CURRENT still < next) is the
    // documented retry case: remove it and re-commit; CREATE_NEW then
    // catches a live racer that recreates it inside this window. (The
    // earlier segment-write phase of two LIVE concurrent writers is
    // not detectable here — single-writer remains the contract.)
    val cur = currentVersion(indexDir)
    val dir = java.nio.file.Paths.get(indexDir, s"v$next")
    java.nio.file.Files.createDirectories(dir)
    val mf = dir.resolve("MANIFEST")
    if (java.nio.file.Files.exists(mf)) {
      if (cur.exists(_ >= next)) throw new IllegalStateException(
        s"$indexDir/v$next is already committed (CURRENT=${cur.get}) — " +
          "concurrent writer detected; the index store is single-writer")
      java.nio.file.Files.delete(mf) // stale manifest from a crashed commit
    }
    // buildId: random identity for THIS commit of this version. The
    // model cache keys on it (not the manifest mtime): on filesystems
    // with 1s mtime granularity a delete+rebuild landing the same
    // version number within the same tick would alias an mtime key and
    // serve the old model — the silent-recall-collapse scenario the key
    // exists to prevent (r13 advice).
    val protocol = Seq("buildId" -> java.util.UUID.randomUUID().toString) ++
      stream.toSeq.flatMap { case (c, b) =>
        Seq("streamBatchId" -> b, "streamCkptId" -> c) } ++
      Seq("retain" -> retainVersions, "segs" -> segs)
    java.nio.file.Files.writeString(mf, (members ++ protocol)
        .map { case (k, v) => s""""$k":${json(v)}""" }.mkString("{", ",", "}"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // strict parse (metaAt): a CORRUPT retained manifest must abort the
    // commit, not silently read as segs=[] and let retention delete the
    // segments that version still references. Live segments and parts =
    // the union over every RETAINED version's manifest, this one
    // included (not just next-1): with retention depth > 2, an old
    // retained version's segments and parts must survive until IT is
    // reclaimed.
    val keepFrom = next - retainVersions + 1
    val retained = (math.max(0L, keepFrom) to next)
      .filter(v => new java.io.File(indexDir, s"v$v/MANIFEST").isFile)
      .map(metaAt(indexDir, _))
    val liveSegs = retained.flatMap(_.segs).toSet
    val liveParts = retained.flatMap(_.parts).toSet
    val tmp = java.nio.file.Paths.get(indexDir, s".CURRENT.$next.tmp")
    java.nio.file.Files.writeString(tmp, next.toString)
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(indexDir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // retention: the latest `retainVersions` versions stay readable
    def rmQuiet(d: java.io.File): Unit =
      try org.apache.commons.io.FileUtils.deleteDirectory(d)
      catch { case _: Exception => } // stale history is harmless
    val vDirs = Option(new java.io.File(indexDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.matches("v\\d+")
        && d.getName.drop(1).toLong < keepFrom)
    vDirs.foreach(rmQuiet)
    def prune(d: java.io.File, name: scala.util.matching.Regex,
        live: Set[Long]): Unit =
      Option(d.listFiles).toSeq.flatten.foreach { f =>
        f.getName match {
          case name(n) if f.isDirectory && !live(n.toLong) => rmQuiet(f)
          case _ =>
        }
      }
    logs.foreach { log =>
      prune(new java.io.File(indexDir, log), SegName, liveSegs)
      prune(new java.io.File(indexDir, s"$log/base"), PartName, liveParts)
    }
  }

  private val SegName = """seg=?(\d+)""".r
  private val PartName = """cpart=(\d+)""".r

  /** What a two-tier store's fold writes into its one new base part:
    * every committed day segment; every committed part too when `parts`
    * (the log stores' fold and the dedup store's major fold, but not its
    * minor fold); and the version's own batch when `batch` (the log
    * stores' fold), which otherwise stays a day segment (the dedup
    * store's folds, which run beside its writes). A one-tier store's fold
    * is [[FoldAll]]: its next segment is the whole log. */
  final case class Fold(parts: Boolean, batch: Boolean)

  val FoldAll: Fold = Fold(parts = true, batch = true)

  /** Version `next` of a store while it is written — what a skeleton's
    * body gets. `plan` is the fold, if any; with nothing committed (a
    * bootstrap, build or rebuild) every log is written whole. Safe to use
    * from overlapped writes. */
  final class Admission private[VersionedIndex] (spark: SparkSession,
      val dir: String, committed: Option[Meta], val next: Long,
      plan: Option[Fold], tiered: Boolean, buckets: Int, part: Long) {
    private[VersionedIndex] val sizes =
      new java.util.concurrent.ConcurrentHashMap[String, Long]
    private[VersionedIndex] val models =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, AnyRef)]

    private val reads =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]

    /** Whether this version writes each log whole, batch included: a
      * log store's fold, a retrain, a bootstrap, a build or a rebuild. */
    val fold: Boolean = committed.isEmpty || plan.exists(_.batch)

    /** The committed version this admission grows (a bootstrap or a
      * build has none). */
    def base: Meta = committed.get

    /** `log`'s committed relation ([[readLog]] at `base`), read once per
      * admission: the body's probes and a fold's rewrite share it. */
    def read(log: Log): DataFrame =
      reads.computeIfAbsent(log.name, _ => readLog(spark, dir, log, base))

    /** Write `log`'s share of version `next` and return the size of the
      * write that holds the batch: the batch as a day segment on an
      * append; on a fold of the batch, the log's reducer over committed ∪
      * batch as the next segment (one-tier) or base part (two-tier); on a
      * fold that leaves the batch a day segment, the folded tiers as the
      * next part, written beside the segment. */
    def seg(log: Log, batch: DataFrame): Long = {
      def whole(df: DataFrame): Long =
        if (tiered) writePart(df, dir, log, part, buckets)
        else writeSeg(df, dir, log, next)
      def day(): Long = writeSeg(batch, dir, log, next, tiered)
      def folded(f: Fold): DataFrame =
        if (f.parts) read(log) else readTiers(spark, dir, log, base, Nil, base.segs)
      val n = (committed, plan) match {
        case (None, _) => whole(batch)
        case (Some(_), None) => day()
        case (Some(_), Some(f)) if f.batch => whole(log.fold.fold(batch)(reduce =>
          reduce(folded(f).select(batch.columns.map(col).toIndexedSeq: _*)
            .unionByName(batch))))
        case (Some(_), Some(f)) => graft.Par.overlap(whole(folded(f)))(day())._2
      }
      sizes.put(log.name, n)
      n
    }

    /** Model `name` of version `next`: written from `df` on a fold,
      * copied from the committed version on an append (no Spark job).
      * `cached` warms the model cache once the version commits. */
    def model(name: String, cached: AnyRef)(df: => DataFrame): Unit = {
      if (fold) writeModel(df, dir, next, name)
      else {
        val dst = new java.io.File(dir, s"v$next/$name")
        org.apache.commons.io.FileUtils.deleteDirectory(dst) // crashed try
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(dir, s"v${base.version}/$name"), dst)
      }
      models.add(name -> cached)
    }
  }

  /** The admission skeleton of the log and index stores: resolve the
    * committed manifest (`missing` is the error when there is none), take
    * `fold` on it (a fold is [[FoldAll]]) and [[advance]]. Append days run
    * under static plans sized to `sizeBy` ([[graft.Par.withAdmitPlan]]:
    * their relations are batch-sized by construction); a fold keeps AQE,
    * as does an append with no `sizeBy`. Returns the body's result. */
  def appendOrFold[A](spark: SparkSession, dir: String, missing: String,
      logs: Seq[Log], fold: Meta => Boolean, sizeBy: Seq[DataFrame],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(body: Admission => A): A = {
    val m = meta(dir).getOrElse(throw new IllegalStateException(missing))
    val folds = fold(m)
    advance(spark, dir, m, Option.when(folds)(FoldAll), logs, stream = stream,
        retainVersions = retainVersions) { a =>
      if (folds || sizeBy.isEmpty) body(a)
      else graft.Par.withAdmitPlan(spark, sizeBy: _*)(body(a))
    }
  }

  /** The log stores' fold decision: fold once an append would leave more
    * than `maxLiveSegments` live parts and segments. */
  def segmentCap(maxLiveSegments: Int): Meta => Boolean =
    m => m.parts.size + m.segs.size + 1 > maxLiveSegments

  /** Write version `m.version + 1` on committed `m` — an append (`plan`
    * None) or a fold — and commit it with the store's own `members`. The
    * committed size is `logs.head`'s: its whole write's size when the
    * batch is folded, the committed size plus its day segment otherwise;
    * a fold of the batch also resets `trainedRows`. */
  def advance[A](spark: SparkSession, dir: String, m: Meta, plan: Option[Fold],
      logs: Seq[Log], members: Seq[(String, Any)] = Nil,
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(body: Admission => A): A =
    admit(spark, dir, Some(m), m.version + 1, plan, logs, None, members,
      stream, retainVersions)(body)

  /** Commit version 0 of a fresh store: reject a URI dir and an existing
    * store before the body runs (the URI guard runs inside
    * [[currentVersion]]), then commit the logs it wrote whole. A
    * two-tier store fixes its bucket count here. */
  def bootstrap[A](spark: SparkSession, dir: String, logs: Seq[Log],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions,
      buckets: Option[Int] = None,
      members: Seq[(String, Any)] = Nil)(body: Admission => A): A = {
    require(currentVersion(dir).isEmpty,
      s"$dir already holds a committed store — admit into it instead")
    rebuild(spark, dir, logs, stream, retainVersions, buckets, members)(body)
  }

  /** Write every log and model whole as the next version (0 in a fresh
    * dir) and commit it: the bootstraps, the ANN index builds, whose
    * retrain arm is the same body, and the dedup store's re-bucketing,
    * which alone passes a new bucket count to a committed two-tier
    * store. */
  def rebuild[A](spark: SparkSession, dir: String, logs: Seq[Log],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions,
      buckets: Option[Int] = None,
      members: Seq[(String, Any)] = Nil)(body: Admission => A): A =
    admit(spark, dir, None, currentVersion(dir).fold(0L)(_ + 1), None, logs,
      buckets, members, stream, retainVersions)(body)

  private def admit[A](spark: SparkSession, dir: String,
      committed: Option[Meta], next: Long, plan: Option[Fold], logs: Seq[Log],
      buckets: Option[Int], members: Seq[(String, Any)],
      stream: Option[(String, Long)], retainVersions: Int)(
      body: Admission => A): A = {
    val tiered = logs.exists(_.layout.isInstanceOf[Tiered])
    val latest = committed.orElse(meta(dir)).filter(_.tiered)
    val b = buckets.orElse(latest.map(_.buckets))
    require(b.isDefined == tiered, s"$dir: a bucket count is given exactly " +
      s"to a store with a tiered log (logs ${logs.map(_.name)}, buckets $b)")
    require(tiered || plan.forall(_ == FoldAll),
      s"$dir: a one-tier store folds every log whole, got $plan")
    val part = latest.fold(0L)(m => (m.parts :+ -1L).max + 1)
    val a = new Admission(spark, dir, committed, next, plan, tiered,
      b.getOrElse(0), part)
    val out = body(a)
    val unwritten = logs.map(_.name).filterNot(a.sizes.containsKey)
    if (unwritten.nonEmpty) throw new IllegalStateException(
      s"$dir v$next: no segment written for ${unwritten.mkString(", ")}")
    val n = a.sizes.get(logs.head.name)
    val (trained, total) = committed match {
      case Some(m) if !a.fold => (m.trainedRows, m.totalRows + n)
      case _ => (n, n)
    }
    val (parts, segs) = (committed, plan) match {
      case (None, _) => (Vector(part), Vector.empty[Long])
      case (Some(m), None) => (m.parts, m.segs :+ next)
      case (Some(m), Some(f)) => ((if (f.parts) Vector.empty else m.parts) :+ part,
        if (f.batch) Vector.empty[Long] else Vector(next))
    }
    // a one-tier store's whole write is its next segment
    val tiers = if (tiered) Seq("parts" -> parts, "buckets" -> b.get) else Nil
    commit(dir, next, rows(trained, total) ++ members ++ tiers,
      if (!tiered && a.fold) Vector(next) else segs, logs.map(_.name), stream,
      retainVersions)
    // warm the model cache: later appends and queries in this process
    // skip even the K-row read
    a.models.forEach { case (name, model) =>
      val key = modelKey(dir, next, name)
      modelCache.synchronized { modelCache.put(key, model) }
    }
    out
  }

  /** How a log's files are laid out. */
  sealed trait Layout

  /** One file (`coalesce(1)`): the small logs (pins, splits, spans,
    * labels). A `key` sorts the file inside its one write task, which
    * adds no stage and makes its bytes independent of the order the rows
    * arrive in (the split store's pins and splits). */
  final case class OneFile(key: String*) extends Layout

  /** One file written from the rows collected to the driver, for
    * grid-bounded logs (the sketch cells): the segment's size is
    * `size(rows)`, not its row count. */
  final case class Collected(size: Array[Row] => Long) extends Layout

  /** Partition directories by existing columns (`cid` for the IVF
    * logs); none writes the files as planned. */
  final case class PartitionedBy(cols: String*) extends Layout

  /** The bucketed log of a two-tier store: bucket column `b` =
    * `of(buckets)`, rows sorted on `key` — the dedup store's bands and
    * shingles, the substring store's windows and the embedding store's
    * LSH buckets. A day segment is the batch as one file, sorted on
    * `key`, its bucket computed when it is read. A base part holds one
    * file per bucket under `b=$k` dirs, written by one task per bucket:
    * a probe prunes a part to the buckets it touches, then row groups on
    * the sorted key. */
  final case class Tiered(b: String, of: Int => Column, key: String)
      extends Layout

  /** Write `df` as `log`'s day segment of `version`, `<log>/seg$version`
    * in a two-tier store (`tiered`) and `<log>/seg=$version` otherwise
    * (overwrite: a crashed attempt's half-written segment is replaced),
    * and return its size: the rows written, or the [[Collected]]
    * measure. */
  def writeSeg(df: DataFrame, dir: String, log: Log, version: Long,
      tiered: Boolean = false): Long =
    write(df, segDir(dir, log.name, version, tiered), log, None)

  /** Write `df` as base part `j` of a two-tier store's `log`, a
    * [[Tiered]] log in `buckets` buckets, and return the rows written. */
  def writePart(df: DataFrame, dir: String, log: Log, j: Long,
      buckets: Int): Long =
    write(df, partDir(dir, log.name, j), log, Some(buckets))

  /** The rows come from the written files' parquet footers, read on the
    * driver. (An `Observation` would count on the write itself, but it
    * leaves the session's observation manager set, and Spark then fails
    * to serialize any closure that captures the session, such as a
    * logistic-regression model's training summary.) */
  private def write(df: DataFrame, path: String, log: Log,
      buckets: Option[Int]): Long = {
    val spark = df.sparkSession
    def rowsWritten(w: org.apache.spark.sql.DataFrameWriter[Row]): Long = {
      w.mode("overwrite").parquet(path)
      val conf = spark.sessionState.newHadoopConf()
      val files = graft.FileSet.list(spark, path)
      files.files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"${files.root}/${f.path}"), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
    (log.layout, buckets) match {
      case (Collected(size), _) =>
        val schema = StructType.fromDDL(log.ddl)
        val rows = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        size(rows)
      case (OneFile(key @ _*), _) => // no key: the optimizer drops the sort
        rowsWritten(df.coalesce(1).sortWithinPartitions(key.map(col): _*).write)
      case (PartitionedBy(), _) => rowsWritten(df.write)
      case (PartitionedBy(cols @ _*), _) => rowsWritten(df.write.partitionBy(cols: _*))
      case (Tiered(b, _, key), None) =>
        rowsWritten(df.drop(b).coalesce(1).sortWithinPartitions(col(key)).write)
      case (Tiered(b, of, key), Some(n)) => rowsWritten(df.withColumn(b, of(n))
        .repartition(n, col(b)).sortWithinPartitions(col(b), col(key)).write
        .partitionBy(b))
    }
  }

  /** Bytes of `log`'s live base parts at `m`. */
  def partBytes(dir: String, log: Log, m: Meta): Long =
    m.parts.map(j => dirBytes(partDir(dir, log.name, j))).sum

  /** Bytes of each of `log`'s live day segments at `m`. */
  def segBytes(dir: String, log: Log, m: Meta): Vector[Long] =
    m.segs.map(v => dirBytes(segDir(dir, log.name, v, m.tiered)))

  private def dirBytes(p: String): Long = {
    val d = new java.io.File(p)
    if (d.isDirectory) org.apache.commons.io.FileUtils.sizeOfDirectory(d) else 0L
  }

  /** Write a version's model relation (centroids, codebook, remap) as
    * one file at `$dir/v$version/$name`. */
  def writeModel(df: DataFrame, dir: String, version: Long,
      name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$version/$name")

  /** A version's model relation, read with its declared schema. */
  def readModel(spark: SparkSession, dir: String, version: Long,
      name: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl))
      .parquet(s"$dir/v$version/$name")

  /** Driver-side per-(dir, version) model cache — the append/query
    * paths re-use collected K-row models instead of re-reading them
    * per call. Bounded LRU (access-ordered LinkedHashMap, capacity
    * [[ModelCacheCapacity]]): a long-lived session juggling more than
    * the capacity in index versions evicts only the least-recently-used
    * entry instead of thrashing the whole cache wholesale (entries are
    * a few KB each; temp-dir churn in tests would otherwise grow it
    * unboundedly). */
  private[graft] val ModelCacheCapacity = 64
  private val modelCache =
    new java.util.LinkedHashMap[(String, Long, String), AnyRef](
        ModelCacheCapacity * 2, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), AnyRef]): Boolean =
        size() > ModelCacheCapacity
    }

  /** Test hook: current LRU key set (insertion/access order, eldest
    * first). */
  private[graft] def modelCacheKeys: Seq[(String, Long, String)] =
    modelCache.synchronized {
      import scala.jdk.CollectionConverters._
      modelCache.keySet.asScala.toSeq
    }

  /** Cache key carries the manifest's `buildId` as build identity: a
    * dir deleted and rebuilt from a different corpus restarts at the
    * same version number, and a pure (dir, version) key would serve the
    * old centroids against the new assignments — silent recall
    * collapse, no error. The buildId is a fresh UUID per commit (mtime
    * aliases under 1s-granularity filesystems); a manifest without one
    * fails as unreadable, like one without `segs`.
    *
    * The manifest is a <200-byte file re-read on every call —
    * deliberate: identity must be re-validated per call or the
    * same-tick rebuild aliasing returns through a cached id, and a
    * small-file read is the same one-round-trip cost class as a stat
    * (this cache's job is eliminating the K-row Spark read, not the
    * manifest peek). */
  private def modelKey(indexDir: String, version: Long,
      name: String): (String, Long, String) =
    (new java.io.File(indexDir).getCanonicalPath, version,
      s"$name@${metaAt(indexDir, version).buildId}")

  def cachedModel[A <: AnyRef](indexDir: String, version: Long, name: String)(
      load: => A): A = {
    val key = modelKey(indexDir, version, name)
    modelCache.synchronized {
      val hit = modelCache.get(key)
      if (hit != null) return hit.asInstanceOf[A]
    }
    // load OUTSIDE the lock (it runs Spark jobs); worst case two racing
    // loads of the same key compute the same model and one wins
    val loaded = load
    modelCache.synchronized { modelCache.put(key, loaded) }
    loaded
  }
}
