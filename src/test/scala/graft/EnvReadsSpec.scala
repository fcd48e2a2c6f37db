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
  * guard and strict manifest parse. */
class EnvReadsSpec extends AnyFunSuite {

  private val Reads = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r
  private val Mains = Set("Bench.scala", "Verify.scala", "Explain.scala")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private val root = new java.io.File("src/main/scala")

  test("no library code reads the environment or system properties") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val lib = scalaFiles(root).filterNot { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      Mains(f.getName) || f.getName.endsWith("Demo.scala") ||
        rel.startsWith("graft/tools/")
    }
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

  test("only VersionedIndex reads or writes the store pointer and manifests") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val protocol = """"CURRENT"|/MANIFEST|ATOMIC_MOVE""".r
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "VersionedIndex.scala"),
      "scan found no VersionedIndex")
    val hits = for {
      f <- files if f.getName != "VersionedIndex.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
        .zipWithIndex
      code = line.trim
      if !(code.startsWith("*") || code.startsWith("/**"))
      if protocol.findFirstIn(code).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
