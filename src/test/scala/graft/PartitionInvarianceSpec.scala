package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partitioning invariance: re-running an operator on the SAME rows
  * under a different partitioning must produce byte-identical results
  * — the reproducibility contract that makes results auditable at
  * 100 TB, where input splits differ run to run (file compaction, AQE
  * coalescing, cluster size). An operator that leaks partition
  * layout into its output (rand(), monotonically_increasing_id,
  * first() without order, float accumulation order) fails here.
  */
class PartitionInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma one two three four five six seven"),
    (2L, "alpha beta gamma one two three four five six seven"), // copy of 1
    (3L, "the quick brown fox jumps over the lazy dog tonight"),
    (4L, "one two three four five six seven eight nine ten"),
    (5L, ""),
    (6L, "unrelated words entirely distinct from every other document here")
  ).toDF("doc_id", "text")

  private def invariant(name: String)(op: DataFrame => DataFrame): Unit = {
    val a = op(docs.repartition(7)).collect().map(_.toString).sorted
    val b = op(docs.repartition(3, col("doc_id"))).collect().map(_.toString).sorted
    val c = op(docs.coalesce(1)).collect().map(_.toString).sorted
    assert(a.sameElements(b) && b.sameElements(c),
      s"$name: output depends on input partitioning")
  }

  test("span dedup stats and removal are partitioning-invariant") {
    invariant("spanStats")(d => dedup.SpanDedup.spanStats(d, "doc_id", "text", w = 5))
    invariant("removeSpans")(d => dedup.SpanDedup.removeSpans(d, "doc_id", "text", w = 5))
  }

  test("classifier margin is partitioning-invariant") {
    invariant("margin")(d => d.select(col("doc_id"),
      functions.LinearClassifier.margin(col("text")).as("m")))
  }

  test("funnel, gap-fill, reconcile, and merge are partitioning-invariant") {
    val events = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), 100L, 1L, 5L, "view"),
      (1L, java.sql.Date.valueOf("2024-01-01"), 100L, 2L, 7L, "click"),
      (1L, java.sql.Date.valueOf("2024-01-04"), 400L, 3L, 9L, "purchase"),
      (2L, java.sql.Date.valueOf("2024-01-02"), 150L, 4L, 3L, "view")
    ).toDF("k", "d", "ts", "eid", "v", "et")
    def inv(name: String)(op: DataFrame => DataFrame): Unit = {
      val a = op(events.repartition(5)).collect().map(_.toString).sorted
      val b = op(events.repartition(2, col("eid"))).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"$name: output depends on input partitioning")
    }
    inv("funnel")(e => operators.Funnel.depth(e, "k", "ts", "eid", "et",
      Seq("view", "click", "purchase")))
    inv("windowedFunnel")(e => operators.Funnel.windowedDepth(e, "k", "ts", "eid", "et",
      Seq("view", "click", "purchase"), maxSpan = 200L))
    inv("gapfill")(e => operators.GapFill.dailyLocf(e, "k", "d", Seq("ts", "eid"), "v"))
    inv("reconcile")(e => operators.Reconcile.checksums(e, "eid",
      Seq("eid", "v", "et"), buckets = 4))
    val upd = Seq((1L, 9L, "x", false)).toDF("k", "v", "s", "_delete")
    inv("merge")(e => operators.Upsert.merge(
      e.groupBy("k").agg(max("v").as("v"), max("et").as("s")), upd, Seq("k")))
  }

  test("incremental agg, graph metrics, k-core, bloom join, bm25, z-buckets are partitioning-invariant") {
    val fact = (1L to 60L).map(i => (i % 7, if (i % 11 == 0) None else Some(i)))
      .toDF("k", "v")
    def inv(name: String, base: DataFrame)(op: DataFrame => DataFrame): Unit = {
      val a = op(base.repartition(7)).collect().map(_.toString).sorted
      val b = op(base.repartition(2, col(base.columns.head))).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"$name: output depends on input partitioning")
    }
    inv("incrementalAgg", fact) { f =>
      val delta = Seq((1L, Option(100L), "insert"), (2L, Option(2L), "delete"))
        .toDF("k", "v", "_op")
      operators.IncrementalAgg.applyDelta(
        operators.IncrementalAgg.init(f, Seq("k"), Seq("v")), delta, Seq("k"), Seq("v"))
    }
    val edges = (for { a <- 1L to 15L; b <- (a + 1) to 15L if (a * 31 + b) % 3 == 0 }
      yield (a, b)).toDF("s", "d")
    inv("nodeMetrics", edges)(e => operators.GraphMetrics.nodeMetricsOnePass(e, "s", "d"))
    inv("kCore", edges)(e => operators.GraphMetrics.kCore(e, "s", "d", k = 3))
    inv("bloomJoin", fact) { f =>
      val dim = Seq((1L, "a"), (3L, "b")).toDF("k", "attr")
      operators.BloomPrunedJoin.inner(f, dim, "k")
    }
    inv("bm25", docs) { d =>
      val q = Seq((1L, "alpha"), (1L, "two"), (2L, "fox")).toDF("query_id", "term")
      functions.Bm25.topK(d, q, k = 5)
    }
    // z-bucket assignment is invariant GIVEN a fixed boundary array
    // (the artifact contract — boundaries persist with the layout)
    inv("applyBuckets", fact.filter(col("v").isNotNull)) { f =>
      sources.ZOrderLayout.applyBuckets(f, "v", Array(15.0, 30.0, 45.0))
    }
  }
}
