package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The atomic versioned-commit protocol of every persisted store: the
  * ANN index stores ([[Similarity.buildIvfIndex]]'s centroids +
  * assignments, the PQ and IVF-PQ stores), the four log stores
  * ([[SplitPins]], [[HeavyHitters]], [[SubstringDedup]],
  * [[EmbeddingIncremental]]) and the dedup state store
  * ([[graft.streaming.DedupStream]]). This object is the only code that
  * reads or writes `CURRENT` and `v$N/MANIFEST`, and the only code that
  * names a store's segment and model paths: the stores hand it
  * relations and a [[Layout]] ([[writeSeg]], [[writeModel]],
  * [[bootstrap]]) and get back the rows written, so no admission runs a
  * count job over a segment it has just written:
  *
  * {{{
  * indexDir/
  *   CURRENT              # last committed version number (atomic move)
  *   v$N/MANIFEST         # {<store members>,"buildId":…,"retain":…,"segs":[…]}
  *   v$N/<model dirs>     # per-version relations (centroids, codebook, remap)
  *   <log>/seg=$M/…       # one data segment per committing version
  * }}}
  *
  * The manifest splits into the protocol's members — `buildId`, the
  * streaming replay guard, `retain` and `segs`, the live segments — and
  * each store's own members, which [[commit]] writes as given and
  * [[Meta]] parses strictly when the store reads them: `trainedRows` /
  * `totalRows` for the index and log stores ([[rows]]), the bucketed
  * layout (`compactions`, `cFrom`, `segFrom`, `buckets`, `owners`,
  * `migratedFrom`) for the dedup store.
  *
  * A data log (`assignments` for IVF, `codes` for PQ, …) is a single
  * partitioned tree whose FIRST partition level is the writing version
  * (`seg=$N`) — every path segment below the log root is `key=value`,
  * so the committed segments read as ONE multi-path scan with uniform
  * partition columns (a flat `v$N/<log>` layout cannot: Spark's
  * partition discovery rejects non-partition directories between the
  * base path and the files). Readers list exactly the manifest's `segs`
  * — a crashed commit's half-written segment sits outside every
  * committed manifest and is invisible; the retried commit overwrites
  * it (same version number, `mode("overwrite")`). The dedup store keeps
  * its own segment, compaction and bucket-owner retention and names no
  * `logs` here; its `segs` list its live segments `segFrom..N`.
  *
  * For the row-counting stores `trainedRows` is the drift baseline (rows
  * the model was last fit on) and `totalRows` the committed log size —
  * carried in the manifest so the append path never runs a corpus-sized
  * (even footer-only) count job. Retention after each promote keeps the
  * latest `retain` versions' dirs and segments (in-flight readers of the
  * prior commit stay valid) and deletes the rest.
  *
  * Every path here goes through `java.io.File`, so a store dir must be
  * a driver-local path; [[requireLocalFs]] rejects a URI at every entry
  * point before anything is written. (The dedup store's own `seg$N` and
  * bucket-owner dirs stay in [[graft.streaming.DedupStream]]: its
  * compaction fixes the task count at the bucket count.) */
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

  def metaOrThrow(indexDir: String): Meta = meta(indexDir).getOrElse(
    throw new IllegalStateException(
      s"$indexDir holds no committed index (no CURRENT pointer) — " +
        "build one first"))

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

  /** One scan over the committed log segments: declared data schema,
    * partition columns (`seg`, …) discovered against the log root; the
    * bookkeeping `seg` column is dropped. Empty segment list → empty
    * relation of the declared schema PLUS `partitionDdl` — the
    * partition columns below `seg=` (e.g. `cid INT`) that the
    * non-empty branch discovers from paths; without them the two
    * branches would return different schemas and an empty log would
    * break downstream joins on the partition key. */
  def readLog(spark: SparkSession, indexDir: String, log: String,
      segs: Seq[Long], ddl: String, partitionDdl: String = ""): DataFrame =
    if (segs.isEmpty) {
      val full = if (partitionDdl.isEmpty) ddl else s"$ddl, $partitionDdl"
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(full))
    } else spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("basePath", s"$indexDir/$log")
      .parquet(segPaths(indexDir, log, segs): _*)
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

  /** The log stores' admission skeleton ([[SplitPins]], [[HeavyHitters]],
    * [[SubstringDedup]], [[EmbeddingIncremental]]): resolve the committed
    * manifest (`missing` is the error when there is none), fold once
    * `segs.size + 1 > maxLiveSegments`, run `write(m, next, fold)` — it
    * writes `seg=$next` of every log (the batch's rows, or the folded
    * log) and returns the new log size — then commit. Append days run
    * under static plans sized to `sizeBy` ([[graft.Par.withAdmitPlan]]:
    * their relations are batch-sized by construction); a fold rewrites
    * the logs and keeps AQE, as does an append with no `sizeBy`. The arm
    * is known from the manifest before any Spark work, so the whole
    * body, overlapped writes included, runs under one regime. */
  def appendOrFold(spark: SparkSession, dir: String, missing: String,
      maxLiveSegments: Int, logs: Seq[String], sizeBy: Seq[DataFrame],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(
      write: (Meta, Long, Boolean) => Long): Unit = {
    val m = meta(dir).getOrElse(throw new IllegalStateException(missing))
    val next = m.version + 1
    val fold = m.segs.size + 1 > maxLiveSegments
    val total =
      if (fold || sizeBy.isEmpty) write(m, next, fold)
      else graft.Par.withAdmitPlan(spark, sizeBy: _*)(write(m, next, fold))
    commit(dir, next, rows(total, total),
      if (fold) Vector(next) else m.segs :+ next, logs, stream, retainVersions)
  }

  /** How [[writeSeg]] lays out a segment's files. */
  sealed trait Layout

  /** One file (`coalesce(1)`): the small logs (pins, splits, spans,
    * labels, sketch cells). */
  case object OneFile extends Layout

  /** Partition directories by existing columns (`cid` for the IVF
    * logs); none writes the files as planned. */
  final case class PartitionedBy(cols: String*) extends Layout

  /** Coarse bucket column `b` = `of`, one shuffle on it, rows sorted by
    * (`b`, `key`) inside each file and partition dirs by `b` — the
    * window and embedding bucket logs: a probe prunes to touched bucket
    * dirs, then row groups on the sorted key. The task count is the
    * plan's shuffle width. */
  final case class Bucketed(b: String, of: Column, key: String) extends Layout

  /** Write `df` as `$dir/$log/seg=$version` (overwrite: a crashed
    * attempt's half-written segment is replaced) and return the rows
    * written ([[segRows]]). (An `Observation` would count on the write
    * itself, but it leaves the session's observation manager set, and
    * Spark then fails to serialize any closure that captures the
    * session, such as a logistic-regression model's training summary.) */
  def writeSeg(df: DataFrame, dir: String, log: String, version: Long,
      layout: Layout): Long = {
    val w = layout match {
      case OneFile => df.coalesce(1).write
      case PartitionedBy() => df.write
      case PartitionedBy(cols @ _*) => df.write.partitionBy(cols: _*)
      case Bucketed(b, of, key) => df.withColumn(b, of).repartition(col(b))
        .sortWithinPartitions(col(b), col(key)).write.partitionBy(b)
    }
    w.mode("overwrite").parquet(s"$dir/$log/seg=$version")
    segRows(df.sparkSession, dir, log, version)
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

  /** A version's model relation; `ddl` declares its schema, empty infers
    * it from the file. */
  def readModel(spark: SparkSession, dir: String, version: Long,
      name: String, ddl: String = ""): DataFrame = {
    val r = spark.read
    (if (ddl.isEmpty) r
      else r.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
      .parquet(s"$dir/v$version/$name")
  }

  /** Commit version 0 of a fresh store: reject a URI dir and an existing
    * store before `write` runs, then commit the `seg=0` segments of
    * `logs` that `write` wrote, with the log size it returns (the URI
    * guard runs inside [[currentVersion]]). */
  def bootstrap(dir: String, logs: Seq[String],
      stream: Option[(String, Long)] = None,
      retainVersions: Int = DefaultRetainVersions)(write: => Long): Unit = {
    require(currentVersion(dir).isEmpty,
      s"$dir already holds a committed store — admit into it instead")
    val n = write
    commit(dir, 0, rows(n, n), Vector(0L), logs, stream, retainVersions)
  }

  /** Copy a K-row model directory (centroids/codebook) into the next
    * version by plain file copy — zero Spark jobs for data that is a
    * handful of KB. */
  def copyModelDir(indexDir: String, from: Long, next: Long,
      name: String): Unit = {
    val src = new java.io.File(indexDir, s"v$from/$name")
    val dst = new java.io.File(indexDir, s"v$next/$name")
    org.apache.commons.io.FileUtils.deleteDirectory(dst) // crashed try
    org.apache.commons.io.FileUtils.copyDirectory(src, dst)
  }

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

  /** Warm the model cache at commit time — the builder already holds
    * the model rows driver-side, so later appends/queries in this
    * process skip even the K-row read. */
  def putModel(indexDir: String, version: Long, name: String,
      model: AnyRef): Unit = {
    val key = modelKey(indexDir, version, name)
    modelCache.synchronized { modelCache.put(key, model) }
    ()
  }
}
