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
  * names a store's segment and model paths:
  *
  * {{{
  * indexDir/
  *   CURRENT              # last committed version number (atomic move)
  *   v$N/MANIFEST         # {<store members>,"buildId":…,"retain":…,"segs":[…]}
  *   v$N/<model dirs>     # per-version relations (centroids, codebook, remap)
  *   <log>/seg=$M/…       # one data segment per committing version
  * }}}
  *
  * Each store declares its data logs once, as data ([[Log]]: name,
  * schema, partition columns, [[Layout]], fold reducer), and every store
  * but the dedup store commits through one skeleton, [[appendOrFold]]
  * (with [[bootstrap]] and [[rebuild]]): the store's fold decision on
  * the manifest, then an [[Admission]] whose segment writer writes the
  * batch or, on a fold, the log's reducer over committed ∪ batch. The
  * log stores fold past a live-segment cap ([[segmentCap]]); the ANN
  * index stores' fold is a drift retrain that writes their logs whole.
  *
  * The manifest holds the protocol's members — `buildId`, the streaming
  * replay guard, `retain` and `segs`, the live segments — and each
  * store's own, which [[commit]] writes as given and [[Meta]] parses
  * strictly when read: `totalRows`, the committed size of a store's
  * first log (its rows, or the sketch's occurrence mass), so no append
  * runs a count job over the corpus, and `trainedRows`, `totalRows` as
  * of the last fold, retrain or build (the index stores' drift
  * baseline; no reader of a log store uses it); or the dedup store's
  * bucketed layout (`compactions`, `cFrom`, `segFrom`, `buckets`,
  * `owners`, `migratedFrom`), whose own segments, compaction and
  * bucket-owner retention name no `logs` here.
  *
  * A data log is one partitioned tree whose FIRST partition level is the
  * writing version (`seg=$N`), so the committed segments read as ONE
  * multi-path scan with uniform partition columns (Spark's partition
  * discovery rejects non-partition dirs between base path and files).
  * Readers list exactly the manifest's `segs`: a crashed commit's
  * half-written segment is invisible, and the retry overwrites it.
  * Retention after each promote keeps the latest `retain` versions'
  * dirs and segments (in-flight readers of the prior commit stay valid)
  * and deletes the rest.
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

  /** Committed segment directories of the data log, for a multi-path
    * read rooted at `$indexDir/$log` (so `seg` and any lower partition
    * columns are discovered uniformly). */
  def segPaths(indexDir: String, log: String, segs: Seq[Long]): Seq[String] =
    segs.map { s =>
      val p = s"$indexDir/$log/seg=$s"
      if (!new java.io.File(p).isDirectory) throw new IllegalStateException(
        s"committed index references $log/seg=$s but $p does not exist — " +
          "lost or deleted committed state")
      p
    }

  /** One data log of a store, declared once: its name (the dir under
    * the store root), data schema, the partition columns below `seg=`
    * that a read discovers from paths (e.g. `cid INT`), its file
    * [[Layout]] and its fold reducer. On a fold, [[Admission.seg]]
    * writes `fold(committed ∪ batch)`; the default is concatenation.
    * `None` marks a log whose body writes it whole on a fold: the ANN
    * index logs (a retrain re-encodes the corpus) and the embedding
    * labels (the fold applies the composed remap). */
  final case class Log(name: String, ddl: String, partitionDdl: String = "",
      layout: Layout = OneFile(),
      fold: Option[DataFrame => DataFrame] = Some(identity))

  /** One scan over the committed segments of `log`: declared data
    * schema, partition columns (`seg`, …) discovered against the log
    * root; the bookkeeping `seg` column is dropped. Empty segment list →
    * empty relation of the declared schema PLUS `partitionDdl`, which the
    * non-empty branch discovers from paths; without them the two
    * branches would return different schemas and an empty log would
    * break downstream joins on the partition key. */
  def readLog(spark: SparkSession, indexDir: String, log: Log,
      segs: Seq[Long]): DataFrame =
    if (segs.isEmpty) {
      val full = if (log.partitionDdl.isEmpty) log.ddl
        else s"${log.ddl}, ${log.partitionDdl}"
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL(full))
    } else spark.read
      .schema(StructType.fromDDL(log.ddl))
      .option("basePath", s"$indexDir/${log.name}")
      .parquet(segPaths(indexDir, log.name, segs): _*)
      .drop("seg")

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

  /** Publish version `next` (everything under `v$next/` and
    * `<log>/seg=$next` is already written): manifest — the store's
    * `members` (integers, integer arrays or strings), then the
    * protocol's — atomic pointer move, then retention. `logs` names the
    * data-log roots to prune. */
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
    // segments that version still references. Live segments = the union
    // over every RETAINED version's manifest (not just next-1): with
    // retention depth > 2, an old retained version's log segments must
    // survive until IT is reclaimed.
    val keepFrom = next - retainVersions + 1
    val prevSegs: Set[Long] = (math.max(0L, keepFrom) until next)
      .filter(v => new java.io.File(indexDir, s"v$v/MANIFEST").isFile)
      .flatMap(v => metaAt(indexDir, v).segs)
      .toSet
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
    val live = segs.toSet ++ prevSegs
    logs.foreach { log =>
      val root = new java.io.File(indexDir, log)
      if (root.isDirectory) root.listFiles.foreach { d =>
        if (d.isDirectory && d.getName.startsWith("seg=")
            && !live.contains(d.getName.drop(4).toLong)) rmQuiet(d)
      }
    }
  }

  /** Version `next` of a store while it is written — what the body of
    * [[appendOrFold]], [[bootstrap]] and [[rebuild]] gets. `fold` is
    * the arm: a fold, a retrain, or (with nothing committed read) a
    * bootstrap or build. Safe to use from overlapped writes. */
  final class Admission private[VersionedIndex] (spark: SparkSession,
      val dir: String, committed: Option[Meta], val next: Long,
      val fold: Boolean) {
    private[VersionedIndex] val sizes =
      new java.util.concurrent.ConcurrentHashMap[String, Long]
    private[VersionedIndex] val models =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, AnyRef)]

    private val reads =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]

    /** The committed version this admission grows (a bootstrap or a
      * build has none). */
    def base: Meta = committed.get

    /** `log`'s committed relation ([[readLog]] over `base.segs`), read
      * once per admission: the body's probes and a fold's rewrite share
      * one file listing, which for a bucketed log is a Spark job per
      * live segment. */
    def read(log: Log): DataFrame =
      reads.computeIfAbsent(log.name, _ => readLog(spark, dir, log, base.segs))

    /** Write `log`'s segment of version `next`: the batch, or on a fold
      * the log's reducer over committed ∪ batch. Returns the segment's
      * size ([[writeSeg]]). */
    def seg(log: Log, batch: DataFrame): Long = {
      val df = (committed, log.fold) match {
        case (Some(_), Some(reduce)) if fold =>
          reduce(read(log).select(batch.columns.map(col).toIndexedSeq: _*)
            .unionByName(batch))
        case _ => batch
      }
      val n = writeSeg(df, dir, log, next)
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

  /** The admission skeleton of every store but the dedup store: resolve
    * the committed manifest (`missing` is the error when there is none),
    * take `fold` on it, run the body on an [[Admission]] of the next
    * version, which writes `seg=$next` of every log in `logs`, then
    * commit. The committed size is `logs.head`'s: the written segment's
    * size on a fold, the committed size plus it on an append; a fold
    * also resets `trainedRows` and the segment list. Append days run
    * under static plans sized to `sizeBy` ([[graft.Par.withAdmitPlan]]:
    * their relations are batch-sized by construction); a fold keeps
    * AQE, as does an append with no `sizeBy`. Returns the body's result. */
  def appendOrFold[A](spark: SparkSession, dir: String, missing: String,
      logs: Seq[Log], fold: Meta => Boolean, sizeBy: Seq[DataFrame],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(body: Admission => A): A = {
    val m = meta(dir).getOrElse(throw new IllegalStateException(missing))
    val folds = fold(m)
    admit(spark, dir, Some(m), m.version + 1, folds, logs, stream,
        retainVersions) { a =>
      if (folds || sizeBy.isEmpty) body(a)
      else graft.Par.withAdmitPlan(spark, sizeBy: _*)(body(a))
    }
  }

  /** The log stores' fold decision: fold once an append would leave more
    * than `maxLiveSegments` live segments. */
  def segmentCap(maxLiveSegments: Int): Meta => Boolean =
    _.segs.size + 1 > maxLiveSegments

  /** Commit version 0 of a fresh store: reject a URI dir and an existing
    * store before the body runs (the URI guard runs inside
    * [[currentVersion]]), then commit the `seg=0` segments it wrote. */
  def bootstrap[A](spark: SparkSession, dir: String, logs: Seq[Log],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(body: Admission => A): A = {
    require(currentVersion(dir).isEmpty,
      s"$dir already holds a committed store — admit into it instead")
    rebuild(spark, dir, logs, stream, retainVersions)(body)
  }

  /** Write every log and model whole as the next version (0 in a fresh
    * dir) and commit it: the bootstraps and the ANN index builds, whose
    * retrain arm is the same body. */
  def rebuild[A](spark: SparkSession, dir: String, logs: Seq[Log],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(body: Admission => A): A =
    admit(spark, dir, None, currentVersion(dir).fold(0L)(_ + 1), fold = true,
      logs, stream, retainVersions)(body)

  private def admit[A](spark: SparkSession, dir: String,
      committed: Option[Meta], next: Long, fold: Boolean, logs: Seq[Log],
      stream: Option[(String, Long)], retainVersions: Int)(
      body: Admission => A): A = {
    val a = new Admission(spark, dir, committed, next, fold)
    val out = body(a)
    val unwritten = logs.map(_.name).filterNot(a.sizes.containsKey)
    if (unwritten.nonEmpty) throw new IllegalStateException(
      s"$dir v$next: no segment written for ${unwritten.mkString(", ")}")
    val n = a.sizes.get(logs.head.name)
    val (trained, total, segs) = committed match {
      case Some(m) if !fold => (m.trainedRows, m.totalRows + n, m.segs :+ next)
      case _ => (n, n, Vector(next))
    }
    commit(dir, next, rows(trained, total), segs, logs.map(_.name), stream,
      retainVersions)
    // warm the model cache: later appends and queries in this process
    // skip even the K-row read
    a.models.forEach { case (name, model) =>
      val key = modelKey(dir, next, name)
      modelCache.synchronized { modelCache.put(key, model) }
    }
    out
  }

  /** How [[writeSeg]] lays out a segment's files. */
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

  /** Coarse bucket column `b` = `of`, one shuffle on it, rows sorted by
    * (`b`, `key`) inside each file and partition dirs by `b` — the
    * window and embedding bucket logs: a probe prunes to touched bucket
    * dirs, then row groups on the sorted key. The task count is the
    * plan's shuffle width. */
  final case class Bucketed(b: String, of: Column, key: String) extends Layout

  /** Write `df` as `$dir/${log.name}/seg=$version` in the log's layout
    * (overwrite: a crashed attempt's half-written segment is replaced)
    * and return its size: the rows written ([[segRows]]), or the
    * [[Collected]] measure. (An `Observation` would count on the write
    * itself, but it leaves the session's observation manager set, and
    * Spark then fails to serialize any closure that captures the
    * session, such as a logistic-regression model's training summary.) */
  def writeSeg(df: DataFrame, dir: String, log: Log, version: Long): Long = {
    val path = s"$dir/${log.name}/seg=$version"
    def rowsWritten(w: org.apache.spark.sql.DataFrameWriter[Row]): Long = {
      w.mode("overwrite").parquet(path)
      segRows(df.sparkSession, dir, log.name, version)
    }
    log.layout match {
      case Collected(size) =>
        val schema = StructType.fromDDL(log.ddl)
        val rows = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .collect()
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
          schema).coalesce(1).write.mode("overwrite").parquet(path)
        size(rows)
      case OneFile(key @ _*) => // no key: the optimizer drops the sort
        rowsWritten(df.coalesce(1).sortWithinPartitions(key.map(col): _*).write)
      case PartitionedBy() => rowsWritten(df.write)
      case PartitionedBy(cols @ _*) => rowsWritten(df.write.partitionBy(cols: _*))
      case Bucketed(b, of, key) => rowsWritten(df.withColumn(b, of)
        .repartition(col(b)).sortWithinPartitions(col(b), col(key)).write
        .partitionBy(b))
    }
  }

  /** Rows in segment `$dir/$log/seg=$version`, summed from its files'
    * parquet footers on the driver — no Spark job. */
  def segRows(spark: SparkSession, dir: String, log: String,
      version: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val seg = graft.FileSet.list(spark, s"$dir/$log/seg=$version")
    seg.files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"${seg.root}/${f.path}"), conf))
      try r.getRecordCount finally r.close()
    }.sum
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
