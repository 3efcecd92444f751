package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The leak contract, pinned for every operator that materializes
  * through an Exec scope: it may leave behind ONLY the blocks its
  * returned plan reads — after the caller frees the result, the
  * session's persistent-RDD map must be exactly what it was before the
  * call. (Dataset.unpersist is a no-op for checkpoint blocks, so before
  * r13 every iterative operator leaked one block set per round per
  * call for the session's lifetime — the q117 cross-round bench
  * drift.)
  *
  * Every case runs twice: with no checkpoint dir (local checkpoints)
  * and with a temp dir set, where its cuts must be RELIABLE — read
  * back from checkpoint files. Both runs must produce the same rows.
  */
class CheckpointHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def leakFree(tag: String)(run: => Any): Unit = {
    val local = once(tag, reliable = false)(run)
    val reliable = once(tag, reliable = true)(run)
    assert(reliable === local, s"$tag: outputs differ across checkpoint modes")
  }

  private def once(tag: String, reliable: Boolean)(run: => Any): Seq[String] = {
    val dir = Files.createTempDirectory("graft_hygiene")
    if (reliable) spark.sparkContext.setCheckpointDir(dir.toString)
    val read = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(i => read.add(i.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run match {
        case df: DataFrame => // consume like a caller would, then drop it
          try df.collect().map(_.toString).toSeq.sorted finally graft.Exec.free(df)
        case plain => Seq(plain.toString)
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$tag left ${leaked.size} persistent RDDs behind: $leaked")
      if (reliable) {
        val deadline = System.currentTimeMillis() + 15000
        while (System.currentTimeMillis() < deadline &&
          !read.asScala.exists(_ == "ReliableCheckpointRDD")) Thread.sleep(50)
        assert(read.asScala.exists(_ == "ReliableCheckpointRDD"),
          s"$tag read no reliable checkpoint with a checkpoint dir set")
      }
      out
    } finally {
      spark.sparkContext.removeSparkListener(l)
      if (reliable) spark.sparkContext.setCheckpointDir(null)
      scala.util.Using(Files.walk(dir))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)))
      ()
    }
  }

  test("bomExplode leaves no blocks behind") {
    val edges = (1L until 40L).map(i => (i / 3, i, i % 4 + 1))
      .toDF("parent", "child", "qty").repartition(4)
    leakFree("bomExplode")(Hierarchy.bomExplode(edges, rootId = 0L))
  }

  test("hopDistances leaves no blocks behind") {
    val edges = (1L until 40L).map(i => (i / 3, i)).toDF("src", "dst").repartition(4)
    leakFree("hopDistances")(Bfs.hopDistances(edges, Seq(0L).toDF("id")))
  }

  test("connected components leaves no blocks behind") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L)).toDF("src", "dst")
    leakFree("components")(graft.dedup.ConnectedComponents.components(edges))
  }

  test("pageRank leaves no blocks behind") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    leakFree("pageRank")(PageRank.ranks(edges, "src", "dst", iters = 5))
    leakFree("ranksScaled")(PageRank.ranksScaled(edges, iters = 5))
  }

  test("kCore leaves no blocks behind") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    leakFree("kCore")(GraphMetrics.kCore(edges, "src", "dst", k = 2))
  }

  test("nodeMetricsOnePass leaves no blocks behind") {
    val edges = (1L until 40L).map(i => (i % 7, (i * 3) % 11)).toDF("src", "dst")
    leakFree("nodeMetricsOnePass")(GraphMetrics.nodeMetricsOnePass(edges, "src", "dst"))
  }

  test("frequentPairs leaves no blocks behind") {
    val baskets = (1L until 60L).map(i => (i % 12, s"item${i % 5}")).toDF("basket", "item")
    leakFree("frequentPairs")(FrequentItemsets.frequentPairs(baskets, "basket", "item", 2L))
  }

  test("Bm25.topK leaves no blocks behind") {
    val docs = Seq((1L, "red beans and rice"), (2L, "red lentil soup"),
      (3L, "chicken rice bowl")).toDF("doc_id", "text")
    val queries = Seq((10L, "red"), (10L, "rice")).toDF("query_id", "term")
    leakFree("Bm25.topK")(graft.functions.Bm25.topK(docs, queries, k = 2))
  }

  test("Dsir.select leaves no blocks behind") {
    val docs = (1L until 30L).map(i => (i, s"token$i common words here", i % 4 == 0))
      .toDF("doc_id", "text", "is_t")
    leakFree("Dsir.select")(
      graft.functions.Dsir.select(docs, "doc_id", "text", col("is_t"), buckets = 16, k = 5))
  }

  test("BPE training leaves no blocks behind (plain-data result)") {
    val docs = Seq("low lower lowest", "new newer newest").toDF("text")
    leakFree("BPE train") {
      val merges = BpeTrainer.train(docs, "text", k = 3)
      assert(merges.nonEmpty)
      merges
    }
  }

  test("SetSimJoin.join leaves no blocks behind") {
    val sets = (1L to 12L).map(i => (i, (0L to i % 5 + 2).map(t => s"t${t * (i % 3 + 1)}")))
      .toDF("doc_id", "sh")
    leakFree("SetSimJoin.join")(graft.dedup.SetSimJoin.join(sets, "doc_id", "sh", 1, 2))
  }

  test("SuffixSpans.contamination leaves no blocks behind") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog", true),
      (2L, "a quick brown fox jumps over a sleeping cat", false),
      (3L, "nothing in common here at all", false)).toDF("doc_id", "text", "is_train")
    leakFree("SuffixSpans.contamination")(graft.dedup.SuffixSpans.contamination(
      docs, "doc_id", "text", "is_train", k = 16, minSpan = 8))
  }

  test("TxLog.upsert leaves no blocks behind (plain-data result)") {
    leakFree("TxLog.upsert") {
      val t = Files.createTempDirectory("graft_hygiene_txlog").toString
      graft.sources.TxLog.create(spark, Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"), t)
      val v = graft.sources.TxLog.upsert(spark,
        Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("k", "s", "v"), t, "k")
      (v, graft.sources.TxLog.read(spark, t).collect().map(_.toString).sorted.toSeq)
    }
  }

  test("KneserNey.model leaves no blocks behind") {
    val docs = Seq("a b a b c", "a b c a b", "c a b").toDF("text")
    leakFree("KneserNey.model")(graft.functions.KneserNey.model(docs, "text"))
    leakFree("KneserNey.trigramModel")(graft.functions.KneserNey.trigramModel(docs, "text"))
  }

  test("LmQuality.scoreDocuments leaves no blocks behind") {
    val docs = Seq((1L, "a b a b c q a b"), (2L, "a b c a b"), (3L, "z a b"))
      .toDF("doc_id", "text")
    leakFree("LmQuality.scoreDocuments")(graft.functions.LmQuality.scoreDocuments(docs))
  }

  test("GraphAnn.search leaves no blocks behind") {
    val nodes = (0L until 24L).map(i => (i, Seq(i % 5 / 4.0, i % 7 / 6.0, i % 3 / 2.0)))
      .toDF("vec_id", "embedding")
    val edges = (0L until 24L).flatMap(i => Seq((i, (i + 1) % 24), (i, (i + 5) % 24)))
      .toDF("src", "dst")
    val queries = nodes.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"),
      col("embedding"))
    leakFree("GraphAnn.search")(graft.similarity.GraphAnn.search(nodes, edges, queries,
      maxLevel = 1, scaleBits = 10, k = 3, beam = 4, rounds = 2, entryBeam = 2))
  }

  test("Hits.scoresScaled leaves no blocks behind") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    leakFree("Hits.scoresScaled")(Hits.scoresScaled(edges, iters = 3))
  }

  test("LabelPropagation.propagate leaves no blocks behind") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 9L)).toDF("src", "dst")
    leakFree("LabelPropagation.propagate")(LabelPropagation.propagate(edges, iters = 3))
  }

  test("Stats.ksTest and madOutliers leave no blocks behind") {
    val rows = (1L to 40L).map(i => (s"g${i % 3}", i * i % 17, i % 2 == 0)).toDF("g", "v", "a")
    leakFree("Stats.ksTest")(graft.functions.Stats.ksTest(rows, col("v"), col("a")))
    leakFree("Stats.madOutliers")(graft.functions.Stats.madOutliers(rows, col("g"), col("v")))
  }
}
