package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraphMetrics — degree-ordered triangle counts vs hand counts and
  * a brute-force reference; input canonicalization invariances.
  */
class GraphMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def metrics(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    GraphMetrics.nodeMetricsOnePass(edges.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("known graphs: triangle, square, square with diagonal, star") {
    assert(metrics(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L)) ===
      Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 1L))))
    // C4 has no triangles
    assert(metrics(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L))
      .values.forall(_._2 === 0L))
    // diagonal 1-3 creates two triangles sharing it
    assert(metrics(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L)) ===
      Map(1L -> ((3L, 2L)), 2L -> ((2L, 1L)), 3L -> ((3L, 2L)), 4L -> ((2L, 1L))))
    // a star is triangle-free no matter the hub degree
    val star = metrics((2L to 9L).map(i => 1L -> i))
    assert(star(1L) === ((8L, 0L)) && star.values.forall(_._2 === 0L))
  }

  test("matches a brute-force count on a deterministic random graph") {
    // md5-deterministic edge set on 24 nodes
    val edges = (for {
      a <- 1L to 24L; b <- (a + 1) to 24L
      if java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a/$b".getBytes("UTF-8"))(0).toInt % 3 == 0
    } yield (a, b)).toSeq
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
      .view.mapValues(_.toSet).toMap
    val brute = adj.keys.map { n =>
      val nb = adj(n).toSeq
      val tris = (for {
        i <- nb.indices; j <- (i + 1) until nb.size
        if adj(nb(i)).contains(nb(j))
      } yield 1).size
      n -> ((adj(n).size.toLong, tris.toLong))
    }.toMap
    assert(metrics(edges) === brute)
  }

  test("invariant to edge direction, duplicates, and self-loops") {
    val base = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val messy = base.map(_.swap) ++ base ++ Seq(2L -> 2L, 1L -> 2L)
    assert(metrics(messy) === metrics(base))
  }

  private def core(edges: Seq[(Long, Long)], k: Int, maxIter: Int = 50): Map[Long, Long] =
    GraphMetrics.kCore(edges.toDF("s", "d"), "s", "d", k, maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference peel: repeatedly drop degree-<k nodes. */
  private def bruteCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.map(e => (e._1 min e._2) -> (e._1 max e._2))
      .filter(e => e._1 != e._2).distinct
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("k-core: clique survives, tails and paths peel away") {
    // K4 (nodes 1-4) with a pendant chain 4-5-6
    val g = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 5L -> 6L)
    assert(core(g, 3) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "3-core is exactly the K4, with WITHIN-core degrees")
    // a path needs length/2 peel rounds and 2-cores to nothing
    val path = (1L to 9L).sliding(2).map(s => s.head -> s.last).toSeq
    assert(core(path, 2).isEmpty)
    // the same path under k=1 is untouched
    assert(core(path, 1).keySet === (1L to 9L).toSet)
  }

  test("k-core matches the reference peel on a deterministic random graph") {
    val edges = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L
      if java.security.MessageDigest.getInstance("MD5")
        .digest(s"core/$a/$b".getBytes("UTF-8"))(0).toInt % 4 == 0
    } yield (a, b)).toSeq
    for (k <- Seq(2, 3, 4))
      assert(core(edges, k) === bruteCore(edges, k), s"k=$k diverged")
  }

  test("k-core fail-fasts instead of returning a partial peel") {
    val path = (1L to 9L).sliding(2).map(s => s.head -> s.last).toSeq
    val e = intercept[IllegalStateException](core(path, 2, maxIter = 1))
    assert(e.getMessage.contains("NOT the k-core"))
  }

  test("q192 fixture peels to the 2-core fixpoint within 6 rounds") {
    // the oracle unrolls EIGHT peel layers as plain CTEs; this pin
    // proves the fixture's peel depth stays under that budget (kCore
    // fail-fasts if maxIter rounds don't reach the fixpoint), so the
    // oracle's tail layers are no-ops by construction
    val deg = graft.SparkEntry.kcoreEdges(spark, sf()).transform(e =>
      graft.operators.GraphMetrics.kCore(e, "src", "dst", k = 2, maxIter = 6))
    // and the surviving core is the planted cliques: min degree ≥ 5
    assert(deg.agg(org.apache.spark.sql.functions.min("degree"))
      .collect().head.getLong(0) >= 5L)
  }

  test("wedge volume is bounded by orientation: hub out-degree stays O(√m)") {
    // star + one far edge: the hub (degree 9) must orient OUTWARD
    // only toward higher-(degree,id) nodes — its oriented out-degree
    // collapses, so no d² wedge blowup at hubs
    val star = (2L to 10L).map(i => 1L -> i) :+ (11L -> 12L)
    val canon = GraphMetrics.canonical(star.toDF("s", "d"), "s", "d")
    val deg = GraphMetrics.degrees(canon)
    val outDeg = GraphMetrics.orient(canon, deg)
      .groupBy("u").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // leaves (degree 1) orient INTO the hub: the hub sources nothing
    assert(!outDeg.contains(1L))
  }
}
