package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999) hubs-and-authorities over a directed edge
  * list — the second classic link-analysis prior next to PageRank:
  * PageRank scores GLOBAL endorsement flow, HITS separates the two
  * roles a page plays in a crawl graph (a HUB links out to good
  * content, an AUTHORITY is linked to by good hubs). Web-corpus
  * curation uses both: directory/aggregator pages (high hub, low
  * authority) are boilerplate-heavy and get down-weighted; high-
  * authority pages are quality anchors for their link neighborhoods.
  *
  * EXACT-INTEGER formulation (the q172 `ranksScaled` discipline):
  * the textbook HITS normalizes each round by the L2 norm — a sqrt
  * of a float sum, reduction-order-dependent and engine-specific. We
  * normalize by the ROUND MAXIMUM instead (a recognized HITS variant;
  * the eigenvector direction is unchanged, only the scaling differs):
  * every quantity is a scaled long, the max is an exact integer fold,
  * and the rescale is one floor division on non-negatives — so the
  * result is bit-identical whatever the partitioning or engine, and
  * the whole chain rides a cross-engine oracle hash.
  *
  * Recurrence, all integer, h0(u) = scale:
  *   araw(v) = Σ_{(u,v) ∈ E} h(u)      (multigraph: one term per edge)
  *   a(v)    = (araw(v)·scale) div max_v araw(v)        (0 if max = 0)
  *   hraw(u) = Σ_{(u,v) ∈ E} a(v)
  *   h(u)    = (hraw(u)·scale) div max_u hraw(u)        (0 if max = 0)
  * Nodes with no in-edges have authority 0; nodes with no out-edges
  * have hub 0 from round 1 on (their initial mass contributes to
  * round 1's araw and then leaves the hub side).
  *
  * Execution shape (the r13 iterative-operator contract, like
  * PageRank/Bfs/Hierarchy): the loop runs on co-partitioned RDDs —
  * the edge list is materialized TWICE, keyed by src and keyed by
  * dst, each hash-partitioned ONCE on the same partitioner as the
  * score vectors, so both per-round joins are NARROW; the two wide
  * ops per round are the fan-in reduceByKeys (hub mass → dst,
  * authority mass → src) that ARE the algorithm. Driver touch per
  * round = two scalar max folds (never a collect). Round frames are
  * lazy lineage cuts; a DataFrame loop would pay the
  * ~0.5 s/round Catalyst replan tax (the q117 adjudication).
  *
  * Overflow contract: araw ≤ maxInDeg·scale, and the rescale
  * multiplies by scale again, so it requires maxDeg·scale² ≤
  * Long.Max — checked (BigInt) after the degree pass. The default
  * scale 1e6 admits degree up to ~9.2e6; at web scale lower the
  * scale (authority hubs reach 1e8 in-links).
  */
object Hits {

  /** (id, hub_scaled, auth_scaled, out_degree, in_degree) for every
    * node appearing in `edges` (either side), after `iters` rounds.
    */
  def scoresScaled(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                   scale: Long = 1000000L, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    val spark = edges.sparkSession
    import spark.implicits._
    graft.Exec.scoped { b =>
      val raw = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).na.drop()
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
      // r18: size-adaptive partitioner (GraphPart — guide §2.2); the
      // sizing count also caches raw, so the caller's edge-synthesis
      // plan evaluates ONCE (eSrc and eDst previously re-ran it each)
      val (_, part) = GraphPart.sized(raw, b)
      // the edge list twice: keyed by src for the authority fan-in's
      // hub join, keyed by dst for the hub fan-in's authority join —
      // both partitioned ONCE, so every per-round join is narrow
      val eSrc = b.cache(raw.partitionBy(part))
      val eDst = b.cache(raw.map(_.swap).partitionBy(part))
      val nodes = b.cache(eSrc.flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
        .reduceByKey(part, (a, _) => a))
      val n = nodes.count()
      require(n > 0, "empty graph: edge list has no nodes")
      val outDeg = b.cache(eSrc.mapValues(_ => 1L).reduceByKey(part, _ + _))
      val inDeg = b.cache(eDst.mapValues(_ => 1L).reduceByKey(part, _ + _))
      val maxDeg = math.max(outDeg.map(_._2).fold(0L)(math.max),
        inDeg.map(_._2).fold(0L)(math.max))
      require(BigInt(maxDeg) * BigInt(scale) * BigInt(scale) <= BigInt(Long.MaxValue),
        s"maxDeg*scale^2 overflows long (maxDeg=$maxDeg, scale=$scale) — lower scale")

      // h starts at scale on EVERY node; a exists only where in-edges do
      var h: RDD[(Long, Long)] = b.cut(nodes.mapValues(_ => scale))
      var a: RDD[(Long, Long)] = null
      var i = 0
      while (i < iters) {
        // authority update: hub mass fans in over out-edges.
        // eSrc.join(h) is narrow only while h spans every src — true:
        // h is rebuilt on the full node universe below.
        val araw = eSrc.join(h) // narrow: both on `part`
          .map { case (_, (dst, hv)) => (dst, hv) }
          .reduceByKey(part, _ + _) // wide shuffle #1
        val maxA = araw.map(_._2).fold(0L)(math.max) // driver scalar
        val aNext = b.cut(if (maxA == 0L) araw.mapValues(_ => 0L)
          else araw.mapValues(v => v * scale / maxA))
        a = aNext
        // hub update: authority mass fans in over in-edges. aNext keys
        // are exactly the dst side, so the eDst inner join loses nothing.
        val hraw = eDst.join(aNext) // narrow: both on `part`
          .map { case (_, (src, av)) => (src, av) }
          .reduceByKey(part, _ + _) // wide shuffle #2
        val maxH = hraw.map(_._2).fold(0L)(math.max) // driver scalar
        val hScored = if (maxH == 0L) hraw.mapValues(_ => 0L)
          else hraw.mapValues(v => v * scale / maxH)
        // rebuild on the node universe so next round's eSrc join stays
        // an inner join over every src (no-out nodes carry hub 0)
        h = b.cut(nodes.leftOuterJoin(hScored) // narrow
          .mapValues { case (_, hv) => hv.getOrElse(0L) })
        i += 1
      }
      b.cut(spark.createDataset(
        nodes.leftOuterJoin(h).mapValues { case (_, hv) => hv.getOrElse(0L) }
          .leftOuterJoin(a).mapValues { case (hv, av) => (hv, av.getOrElse(0L)) }
          .leftOuterJoin(outDeg).mapValues { case ((hv, av), od) => (hv, av, od.getOrElse(0L)) }
          .leftOuterJoin(inDeg)
          .map { case (id, ((hv, av, od), idg)) => (id, hv, av, od, idg.getOrElse(0L)) })
        .toDF("id", "hub_scaled", "auth_scaled", "out_degree", "in_degree"))
    }
  }
}
