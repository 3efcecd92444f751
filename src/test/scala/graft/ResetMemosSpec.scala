package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `SparkEntry.resetMemos` frees every memo it drops: after the
  * memo-filling queries run and the memos are reset, the session holds
  * exactly the persistent RDDs it held before, and no temp dir a memo
  * created survives.
  */
class ResetMemosSpec extends SparkSpec {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Temp dirs whose names start with `graft_<prefix>` for one of `prefixes`. */
  private def tmpDirs(prefixes: String*): Set[String] = {
    val ls = Files.list(tmp)
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(n => prefixes.exists(p => n.startsWith(s"graft_$p"))).toSet
    finally ls.close()
  }

  test("resetMemos frees the q54 index and q183 label memos") {
    SparkEntry.resetMemos() // start from no memos left by other suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // q54's result also reads its dedup operator's own cut, which the
    // caller frees on dropping the result; the memoized index is a
    // cache, not a leaf of that plan, so it survives the free
    val q54 = SparkEntry.queries("q54_incremental_dedup")(spark, sf("sf0.001"))
    q54.collect()
    Exec.free(q54)
    // q183's plan reads only the memoized label frame
    SparkEntry.queries("q183_label_prop")(spark, sf("sf0.001")).collect()
    val memoized = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(memoized.size >= 2, s"expected the index and label memos to hold blocks: $memoized")
    SparkEntry.resetMemos()
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"resetMemos left ${left.size} persistent RDDs behind: $left")
  }

  test("resetMemos deletes the q72, q183 and q216 memo dirs and frees their frames") {
    val prefixes = Seq("q72_model", "q183_labels", "q216_idx", "q216_mon")
    SparkEntry.resetMemos()
    val dirsBefore = tmpDirs(prefixes: _*)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // q72 saves the perceptron memo's weights, q184 the LPA label
    // frame memo: both fills read another memo
    Seq("q72_quality_classifier", "q184_modularity", "q216_index_maintain")
      .foreach(q => SparkEntry.queries(q)(spark, sf("sf0.001")).collect())
    val created = tmpDirs(prefixes: _*) -- dirsBefore
    assert(Seq("q72_model", "q183_labels", "q216_idx")
      .forall(p => created.exists(_.startsWith(s"graft_$p"))), s"memo dirs: $created")
    SparkEntry.resetMemos()
    val survived = tmpDirs(prefixes: _*) -- dirsBefore
    assert(survived.isEmpty, s"resetMemos left memo dirs behind: $survived")
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"resetMemos left ${left.size} persistent RDDs behind: $left")
  }

  test("Memo: nested fills, one entry per session, a failed fill leaves nothing") {
    Memo.reset()
    val other = spark.newSession()
    def inner(s: org.apache.spark.sql.SparkSession, v: Int) = Memo.model(s, "memospec_in", "d")(v)
    // a fill may read another memo (no recursive update on the store)
    assert(Memo.model(spark, "memospec_out", "d")(inner(spark, 1) + 1) === 2)
    assert(inner(spark, 9) === 1, "the nested fill's entry is served")
    assert(inner(other, 5) === 5, "a session never serves another session's entry")

    intercept[IllegalStateException] {
      Memo.dir(spark, "memospec_fail", "d") { out =>
        Files.writeString(Paths.get(out, "part"), "x")
        throw new IllegalStateException("fill failed")
      }
    }
    assert(tmpDirs("memospec_fail").isEmpty, "a failed fill must delete its dir")
    var filled = 0
    val d = Memo.dir(spark, "memospec_fail", "d") { out =>
      filled += 1
      Files.writeString(Paths.get(out, "part"), "x")
    }
    assert(Memo.dir(spark, "memospec_fail", "d")(_ => filled += 1) === d)
    assert(filled === 1, "a failed fill leaves no entry; the next fill lands once")

    Memo.reset()
    assert(!Files.exists(Paths.get(d)), "reset deletes every dir the store created")
    assert(inner(spark, 3) === 3, "reset drops every entry")
    Memo.reset()
  }
}
