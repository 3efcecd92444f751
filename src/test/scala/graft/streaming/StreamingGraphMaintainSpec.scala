package graft.streaming

import graft.SparkSpec
import graft.similarity.{GraphAnn, IvfIndex}
import java.nio.file.Files
import org.apache.spark.sql.functions.lit

/** D40 — streaming graph-index maintenance: appended vectors become
  * REACHABLE (reverse edges link the old graph to them), a retry
  * recomputes byte-identical leaves from the pre-batch view, and a
  * planted hub drop fires the rebuild gate while a scattered drop
  * does not.
  */
class StreamingGraphMaintainSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 16

  // injective over the test id range (mod-257 inner step): the D31
  // generator's period-9 seed cycle made ids 7/16/25 identical
  // vectors, which crowded the k=3 window ahead of the appended copy
  private def vec(seed: Long): Seq[Float] =
    (0 until Dim).map(d => ((seed * 31 + d * 13) % 257 % 9 - 4).toFloat)

  private def jsonl(vs: Seq[(Long, Seq[Float])]): String =
    vs.map { case (id, v) =>
      s"""{"vec_id": $id, "embedding": [${v.mkString(",")}]}"""
    }.mkString("\n")

  private def buildIndex(idx: String): Unit = {
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val model = IvfIndex.trainCentroidsQuantized(corpus, dim = Dim, nCentroids = 4)
    val kn = GraphAnn.scaledKnobs(40L)
    val edges = GraphAnn.knnGraph(corpus, model, degree = kn.degree, nprobe = 3)
    GraphAnn.save(corpus, edges, kn, model.scaleBits, idx, srcBuckets = 4)
  }

  test("appended vectors become reachable; retries land byte-identical leaves") {
    val in = Files.createTempDirectory("graft_gmin").toString
    val idx = Files.createTempDirectory("graft_gmidx").toString
    val mon = Files.createTempDirectory("graft_gmmon").toString
    val cp = Files.createTempDirectory("graft_gmcp").toString
    buildIndex(idx)

    // new vectors: exact copies of corpus vectors under NEW ids — the
    // planted probes below must surface them from the appended tier
    val drop0 = Seq((100L, vec(7)), (101L, vec(23)), (102L, vec(31)))
    Files.writeString(java.nio.file.Paths.get(in, "d0.jsonl"), jsonl(drop0))
    StreamingGraphMaintain.start(spark, in, idx, mon, cp).awaitTermination(60000)

    // a query identical to an appended vector must retrieve the new id
    // (dist 0; the original corpus twin ranks first on the id tiebreak)
    val queries = Seq((0L, vec(7)), (1L, vec(23))).toDF("query_id", "embedding")
    val got = GraphAnn.searchSaved(spark, idx, queries, k = 3)
      .select("query_id", "vec_id", "idist")
      .as[(Long, Long, Long)].collect()
    assert(got.filter(_._1 == 0L).exists(r => r._2 == 100L && r._3 == 0L),
      s"query 0 must reach appended node 100: ${got.mkString(", ")}")
    assert(got.filter(_._1 == 1L).exists(r => r._2 == 101L && r._3 == 0L),
      s"query 1 must reach appended node 101: ${got.mkString(", ")}")

    // retry: replaying batch 0 recomputes from the pre-batch view and
    // rewrites only its own leaves — edge content identical
    def edgeSet() = spark.read.parquet(s"$idx/edges")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val before = edgeSet()
    StreamingGraphMaintain.maintainBatch(
      drop0.toDF("vec_id", "embedding"), 0L, idx, mon, 0.2)
    assert(edgeSet() === before, "an at-least-once replay must land identical content")

    val m = spark.read.parquet(mon).where($"batch_no" === 0L).collect().head
    assert(m.getAs[Long]("n_new_nodes") === 3L)
    assert(!m.getAs[Boolean]("rebuild_gate"),
      "three scattered appends must not gate a rebuild")
  }

  test("a hub-shaped drop fires the gate and EXECUTES the rebuild-and-swap") {
    val in = Files.createTempDirectory("graft_gmin2").toString
    val idx = Files.createTempDirectory("graft_gmidx2").toString
    val mon = Files.createTempDirectory("graft_gmmon2").toString
    val cp = Files.createTempDirectory("graft_gmcp2").toString
    buildIndex(idx)

    // thirty copies of ONE corpus vector: all their reverse edges
    // concentrate on the same neighborhood — touched degrees blow past
    // 2x the build cap and the overflow fraction trips the gate
    val hub = (200L until 230L).map(i => (i, vec(5)))
    Files.writeString(java.nio.file.Paths.get(in, "d0.jsonl"), jsonl(hub))
    StreamingGraphMaintain.start(spark, in, idx, mon, cp).awaitTermination(60000)

    val m = spark.read.parquet(mon).where($"batch_no" === 0L).collect().head
    assert(m.getAs[Boolean]("rebuild_gate"),
      s"hub drop must gate a rebuild: max_degree=${m.getAs[Long]("max_degree_touched")} " +
        s"overflow=${m.getAs[Double]("overflow_frac")}")

    // the gate executed: meta is the REBUILT generation — knobs
    // refreshed from the maintained count, fold point stamped, and
    // the staging/old dirs gone after the swap
    val meta = spark.read.parquet(s"$idx/meta").collect().head
    assert(meta.getAs[Long]("rebuilt_at_batch") === 0L)
    assert(meta.getAs[Long]("n") === 70L,
      "rebuild must rescale the knobs to the maintained node count")
    assert(!Files.exists(java.nio.file.Paths.get(idx, "_rebuild")))
    assert(!Files.exists(java.nio.file.Paths.get(idx, "_old")))

    // post-swap serving ≡ a fresh offline build over the same node set
    // with the same deterministic rules (centroid staircase, scaled
    // knobs, kNN graph)
    val union = ((0L until 40L).map(i => (i, vec(i))) ++ hub).toDF("vec_id", "embedding")
    val model = IvfIndex.trainCentroidsQuantized(union, dim = Dim,
      nCentroids = StreamingGraphMaintain.rebuildCentroids(70L))
    val kn = GraphAnn.scaledKnobs(70L)
    val edges = GraphAnn.knnGraph(union, model, degree = kn.degree, nprobe = 3)
    val queries = Seq((0L, vec(5)), (1L, vec(23))).toDF("query_id", "embedding")
    val fresh = GraphAnn.search(union, edges, queries, kn.maxLevel, model.scaleBits,
        k = 3, kn.beam, kn.rounds, kn.entryBeam, nHint = 70L)
      .select("query_id", "rk", "vec_id", "idist")
      .as[(Long, Long, Long, Long)].collect().toSet
    val served = GraphAnn.searchSaved(spark, idx, queries, k = 3)
      .select("query_id", "rk", "vec_id", "idist")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served === fresh, "post-swap searchSaved must equal a fresh offline build")

    // an at-least-once replay of the FOLDED batch is a no-op: its
    // content is already inside the rebuilt generation, and the
    // pre-batch leaves it would recompute from no longer exist
    def edgeRows() = spark.read.parquet(s"$idx/edges")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val before = edgeRows()
    StreamingGraphMaintain.maintainBatch(
      hub.toDF("vec_id", "embedding"), 0L, idx, mon, 0.2)
    assert(edgeRows() === before, "replaying a folded batch must change nothing")
    assert(spark.read.parquet(s"$idx/meta").collect().head
      .getAs[Long]("rebuilt_at_batch") === 0L)
  }

  test("a batch with no reverse edges writes zeroed stats, not NULLs") {
    val idx = Files.createTempDirectory("graft_gmidx3").toString
    val mon = Files.createTempDirectory("graft_gmmon3").toString
    // single-node index: knnGraph excludes self-pairs, so the edge set
    // is empty — written unpartitioned (partitioned empty writes leave
    // no readable schema), with bucket/batch_no as data columns (the
    // maintenance read filters them identically)
    val one = Seq((0L, vec(0))).toDF("vec_id", "embedding")
    val model = IvfIndex.trainCentroidsQuantized(one, dim = Dim, nCentroids = 1)
    GraphAnn.save(one, GraphAnn.knnGraph(one, model, degree = 2, nprobe = 1),
      GraphAnn.scaledKnobs(1L), model.scaleBits, idx, srcBuckets = 4)
    Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("src", "dst", "dist", "bucket", "batch_no")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/edges")
    // raise the recorded build n so the growth gate stays quiet (the
    // point here is the empty-reverse-edge stats path, not the gate)
    val metaRow = spark.read.parquet(s"$idx/meta").collect().head
    spark.createDataFrame(java.util.List.of(metaRow), metaRow.schema)
      .withColumn("n", lit(100L))
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/meta")

    // the batch re-sends the only node: every search hit is the self
    // match, so found — and the reverse-edge set — is EMPTY
    StreamingGraphMaintain.maintainBatch(one, 1L, idx, mon, 0.2)
    val m = spark.read.parquet(mon).where($"batch_no" === 1L).collect().head
    assert(m.getAs[Long]("n_touched") === 0L)
    assert(m.getAs[Long]("max_degree_touched") === 0L)
    assert(m.getAs[Double]("overflow_frac") === 0.0)
    assert(!m.getAs[Boolean]("rebuild_gate"),
      "an empty-reverse-edge batch must not gate (and must not write NULLs)")
  }

  test("maintenance batches leave no persistent RDDs behind") {
    val idx = Files.createTempDirectory("graft_gmidx4").toString
    val mon = Files.createTempDirectory("graft_gmmon4").toString
    buildIndex(idx)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // scattered appends, alarm above any overflow fraction: no rebuild
    // runs, so every batch takes the plain insert path
    (0L until 4L).foreach { b =>
      val drop = (0L until 3L).map(i => (300L + 3 * b + i, vec(7 * b + 5 * i + 1)))
      StreamingGraphMaintain.maintainBatch(drop.toDF("vec_id", "embedding"), b, idx, mon, 1.0)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"batch $b left ${left.size} persistent RDDs behind: $left")
    }
    assert(spark.read.parquet(mon).where(!$"rebuild_gate").count() === 4L)
  }
}
