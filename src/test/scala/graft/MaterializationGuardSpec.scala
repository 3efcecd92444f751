package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one materialization boundary and the one memo store from
  * drifting back: outside `Exec.scala`, main code caches, cuts and
  * frees only through an `Exec.Scope` or `Exec.free`, and `SparkEntry`
  * memoizes only through `Memo`.
  */
class MaterializationGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** `file:line: text` for every line of `files` holding one of `needles`. */
  private def hits(files: Seq[Path], needles: Seq[String]): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"

  test("no direct cache, checkpoint or unpersist call outside Exec") {
    val files = sources.filterNot(_.endsWith(Paths.get("graft", "Exec.scala")))
    assert(files.nonEmpty)
    val found = hits(files, Seq("localCheckpoint(", ".checkpoint(", ".persist(", "unpersist("))
    assert(found.isEmpty, found.mkString("direct materialization calls:\n", "\n", ""))
  }

  test("no hand-rolled memo map in SparkEntry: memos go through Memo") {
    val entry = sources.filter(_.endsWith(Paths.get("graft", "SparkEntry.scala")))
    assert(entry.size == 1)
    val found = hits(entry, Seq("ConcurrentHashMap", "TrieMap", "WeakHashMap"))
    assert(found.isEmpty, found.mkString("memo maps outside graft.Memo:\n", "\n", ""))
  }
}
