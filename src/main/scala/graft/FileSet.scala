package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The data files under a root (the root itself when it is a file): each
  * file's path relative to the root, its length and its modification
  * time, in path order. Names that start with `_` or `.` (`_SUCCESS`,
  * `_staging/`, checksum files) are skipped at every level, as Spark's
  * file index skips them.
  *
  * Two listings of a root are equal exactly when no file was added,
  * removed, resized or rewritten in between, so a listing keys what is
  * derived from the files: [[graft.engine.Tables]]' inferred schemas, the
  * dedup memo and the kept view counts of
  * [[graft.engine.Pipeline.refreshViews]].
  *
  * One `FileSystem.listStatus` per directory. `listFiles` and
  * `LocatedFileStatus` would also fetch block locations, which on the
  * local filesystem forks a `stat` process per file: 170–300 ms for a
  * 150-file zone, against 3–10 ms here. */
final case class FileSet(root: String, files: Vector[FileSet.File])

object FileSet {
  final case class File(path: String, length: Long, mtime: Long)

  /** The listing of `root`, with `root` qualified by its filesystem; a
    * missing root lists no file. */
  def list(spark: SparkSession, root: String): FileSet = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(path)
    def walk(st: FileStatus, rel: String): Vector[File] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toVector
          .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
          .flatMap(c => walk(c, if (rel.isEmpty) c.getPath.getName else s"$rel/${c.getPath.getName}"))
      else Vector(File(rel, st.getLen, st.getModificationTime))
    val top =
      try Some(fs.getFileStatus(qualified))
      catch { case _: java.io.FileNotFoundException => None }
    FileSet(qualified.toString, top.fold(Vector.empty[File])(walk(_, "")))
  }
}
