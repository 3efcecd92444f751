package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one materialization boundary from drifting back: outside
  * `Exec.scala` (and the `graft.tools` probes), main code caches, cuts
  * and frees only through an `Exec.Scope` or `Exec.free`.
  */
class MaterializationGuardSpec extends AnyFunSuite {

  private val Calls = Seq("localCheckpoint(", ".checkpoint(", ".persist(", "unpersist(")

  test("no direct cache, checkpoint or unpersist call outside Exec") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => p.endsWith(Paths.get("graft", "Exec.scala")) ||
        p.toString.contains(s"graft${java.io.File.separator}tools${java.io.File.separator}"))
      .toSeq
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Calls.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("direct materialization calls:\n", "\n", ""))
  }
}
