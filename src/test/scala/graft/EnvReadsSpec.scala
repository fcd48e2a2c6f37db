package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over the library.
  *
  * The engine takes its configuration from arguments and the Spark
  * session, not from the process environment: an env or system-property
  * read inside the library is a hidden knob that no caller or test sets.
  * Only the command-line mains (`Bench`, `Verify`, `Explain`, the demos,
  * `tools/`) read the environment, plus the named-query directory that a
  * deployment points `Pipeline` at.
  *
  * Every persisted store commits through `VersionedIndex`, the one
  * place that reads or writes the `CURRENT` pointer and the `MANIFEST`
  * files; a second copy of that protocol would miss its single-writer
  * guard and strict manifest parse. It is also the only code that names
  * a store's `<log>/seg=$N` segments and `v$N/<model>` dirs, so the
  * segment layout and its row counts live in one writer. Library code
  * also never uses an `Observation`, which breaks closure serialization
  * for the rest of the session. */
class EnvReadsSpec extends AnyFunSuite {

  private val Reads = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r
  private val Mains = Set("Bench.scala", "Verify.scala", "Explain.scala")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private val root = new java.io.File("src/main/scala")

  /** Library files: everything but the command-line mains and tools. */
  private def library: Seq[java.io.File] = scalaFiles(root).filterNot { f =>
    val rel = root.toPath.relativize(f.toPath).toString
    Mains(f.getName) || f.getName.endsWith("Demo.scala") ||
      rel.startsWith("graft/tools/")
  }

  test("no library code reads the environment or system properties") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val lib = library
    assert(lib.exists(_.getName == "Par.scala"), "scan found no engine files")
    val reads = for {
      f <- lib
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
        .zipWithIndex
      if Reads.findFirstIn(line).isDefined
      if !(f.getName == "Pipeline.scala" &&
        (line.contains("GRAFT_NAMEDQUERY_DIR") ||
          line.contains("graft.namedquery.dir")))
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("\n"))
  }

  /** `file:line: code` for each non-scaladoc line of `files` that `re`
    * matches (`skipLineComments` also skips `//` lines). */
  private def hits(files: Seq[java.io.File], re: scala.util.matching.Regex,
      skipLineComments: Boolean = false): Seq[String] = for {
    f <- files
    (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      .zipWithIndex
    code = line.trim
    if !(code.startsWith("*") || code.startsWith("/**"))
    if !(skipLineComments && code.startsWith("//"))
    if re.findFirstIn(code).isDefined
  } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $code"

  test("only VersionedIndex reads or writes the store pointer and manifests") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "VersionedIndex.scala"),
      "scan found no VersionedIndex")
    val found = hits(files.filter(_.getName != "VersionedIndex.scala"),
      """"CURRENT"|/MANIFEST|ATOMIC_MOVE""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only VersionedIndex builds store segment and version paths") {
    assert(root.isDirectory, s"run from the repository root: $root")
    // the mains too: Bench stamps segment row counts
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "SplitPins.scala") &&
      files.exists(_.getName == "Bench.scala"), "scan found no store files")
    // DedupStream's bucket-owner dirs `<table>/b$k/v$N` are its own layout
    val found = hits(files.filter(_.getName != "VersionedIndex.scala"),
      """seg=|(?<!/b\$k)/v\$""".r, skipLineComments = true)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no library code uses org.apache.spark.sql.Observation") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val found = hits(library, """\bObservation\b""".r, skipLineComments = true)
    assert(found.isEmpty,
      "an Observation leaves the session's observation manager set; later " +
        "closures that capture the session then fail with `Task not " +
        "serializable: ObservationManager` (q95, PlanShapeSpec):\n" +
        found.mkString("\n"))
  }
}
