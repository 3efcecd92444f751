package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one materialization boundary, the one memo store, the
  * one session factory and the one parquet opener from drifting back:
  * outside `Exec.scala`, main code caches, cuts and frees only through
  * an `Exec.Scope` or `Exec.free`; `SparkEntry` memoizes only through
  * `Memo`, under a pinned list of names; sessions open through
  * `GraftSession`; and parquet opens through `Tables.open`.
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

  test("sessions open through GraftSession: no SparkSession.builder elsewhere in main code") {
    val allowed = Seq(Paths.get("graft", "GraftSession.scala"), Paths.get("graft", "Bench.scala"))
    val files = sources.filterNot(f => allowed.exists(f.endsWith))
    val found = hits(files, Seq("SparkSession.builder"))
    assert(found.isEmpty, found.mkString("session builders outside GraftSession:\n", "\n", ""))
  }

  test("the memo registry's names are pinned string literals") {
    val call = """Memo\.(frame|model|dir)(\[[^\]]*\])?\s*\(\s*[^,]*,\s*""".r
    val literal = """"([^"]+)"\s*,""".r
    val named = for {
      f <- sources
      text = Files.readString(f)
      m <- call.findAllMatchIn(text)
    } yield literal.findPrefixMatchOf(text.substring(m.end))
      .map(_.group(1)).toRight(s"$f:${text.take(m.start).count(_ == '\n') + 1}")
    val notLiteral = named.collect { case Left(at) => at }
    assert(notLiteral.isEmpty, notLiteral.mkString("memo names that are not string literals:\n", "\n", ""))
    assert(named.collect { case Right(n) => n }.sorted == Seq(
      "lpa_labels", "q183_labels", "q210_edges", "perceptron", "q72_model",
      "ivf", "q54_index", "pq", "q216_idx").sorted)
  }

  test("parquet opens go through Tables.open, except the sites named here") {
    // streaming view/CDC snapshot dirs and one mergeSchema read; convert
    // one and its entry leaves this list
    val kept = Seq(
      "StreamingAnonymityGate.scala" -> """spark.read.option("mergeSchema", "true").parquet(outDir)""",
      "StreamingCdc.scala" -> "val current = spark.read.parquet(snapDir)",
      "StreamingCdc.scala" -> "spark.read.parquet(snapDir)",
      "StreamingCdc.scala" -> """spark.read.parquet(snapDir).filter(col("batch_no") === n).drop("batch_no")""",
      "StreamingMaterializedView.scala" -> "val current = spark.read.parquet(snapDir)",
      "StreamingMaterializedView.scala" -> "val view = spark.read.parquet(viewDir)",
      "StreamingMaterializedView.scala" -> "spark.read.parquet(viewDir)",
      "StreamingMaterializedView.scala" ->
        """spark.read.parquet(viewDir).filter(col("batch_no") === n).drop("batch_no")""")
    val read = """\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r
    val found = for {
      f <- sources if !f.endsWith(Paths.get("graft", "Tables.scala"))
      text = Files.readString(f)
      m <- read.findAllMatchIn(text)
      line = text.take(m.start).count(_ == '\n')
    } yield (f, line + 1, text.linesIterator.drop(line).next().trim)
    val unexpected = found.filterNot { case (f, _, code) => kept.contains(f.getFileName.toString -> code) }
    assert(unexpected.isEmpty, unexpected.map { case (f, n, code) => s"$f:$n: $code" }
      .mkString("parquet reads outside Tables.open:\n", "\n", ""))
    val gone = kept.diff(found.map { case (f, _, code) => f.getFileName.toString -> code })
    assert(gone.isEmpty, gone.mkString("named sites no longer in the source (drop them here):\n", "\n", ""))
  }
}
