package graft

/** `SparkEntry.resetMemos` frees every memoized frame it drops: after
  * the memo-filling queries run and the memos are reset, the session
  * holds exactly the persistent RDDs it held before.
  */
class ResetMemosSpec extends SparkSpec {

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
}
