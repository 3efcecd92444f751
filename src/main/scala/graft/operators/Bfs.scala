package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over a directed edge list —
  * shortest unweighted path length from the nearest source to every
  * reachable node. The traversal primitive the graph suite (CC,
  * PageRank, k-core, triangles) was missing: reachability radius,
  * crawl-depth labeling, "how far is this domain from a trusted
  * seed" quality signals.
  *
  * Frontier algorithm: round i expands the round-(i−1) frontier one
  * edge hop, drops already-settled nodes (BFS settles a node at its
  * FIRST visit, which in an unweighted graph is the minimal hop
  * count), and the survivors become round i's frontier at dist = i.
  * Terminates when the frontier is empty — at most
  * eccentricity(sources) rounds.
  *
  * r13: like Hierarchy, the loop runs on co-partitioned RDDs behind
  * the DataFrame API (iterative frontier rounds pay a full Catalyst
  * replan + codegen compile + AQE stage materialization per round —
  * ~0.5 s of fixed driver cost regardless of data; the q117
  * adjudication, PLANS.md). The edge table is hash-partitioned ONCE
  * by src and cached; the frontier, the per-round candidates and
  * the settled-distance table all use the SAME partitioner, so the
  * expand join and the settled check are NARROW (RDD.union of
  * same-partitioner checkpointed leaves keeps the partitioner —
  * PartitionerAwareUnionRDD — so the settled table never reshuffles).
  * The only wide op per round is one frontier-scale reduceByKey
  * dedup; the only driver value is the empty-frontier count. At
  * 100 TB edge scale the frontier is never broadcast and never
  * collected (mid-BFS frontiers of a small-diameter web graph are
  * corpus-sized); per-round state is frontier-scale. Round frames
  * are lazy lineage cuts (truncated at materialization).
  *
  * Throws IllegalStateException if `maxIter` rounds leave a
  * non-empty frontier: a truncated BFS silently reports unreached
  * nodes as "unreachable", which downstream consumers cannot
  * distinguish from truth. Rounds are diameter-bounded, so the
  * remedy is raising `maxIter`, not tolerating the partial answer.
  */
object Bfs {

  /** (id, dist) for every node reachable from `sources` (dist 0 at
    * the sources themselves, ties to the nearest source). Nodes not
    * reached do not appear — callers owning a node universe
    * left-join and fill. For undirected traversal pass a
    * symmetrized edge list.
    */
  def hopDistances(
      edges: DataFrame,
      sources: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      idCol: String = "id",
      maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Ids must be integral: the traversal joins on long keys, and an
    // implicit cast from string/decimal ids would null-drop every
    // edge — reporting all nodes unreachable instead of erroring.
    // Callers with non-numeric ids dictionary-encode first.
    def requireIntegral(df: DataFrame, c: String, what: String): Unit = {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"$what column '$c' must be an integral type (byte/short/int/long), got " +
          s"${dt.simpleString} — encode ids to longs explicitly; an implicit " +
          "cast would silently drop all edges")
    }
    requireIntegral(edges, srcCol, "edge source")
    requireIntegral(edges, dstCol, "edge destination")
    requireIntegral(sources, idCol, "source node")
    graft.Exec.scoped { b =>
      val raw = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).na.drop()
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
      // r18: size-adaptive partitioner (GraphPart — guide §2.2); the
      // sizing count also caches raw, evaluated once
      val (_, part) = GraphPart.sized(raw, b)
      val e = b.cache(raw.partitionBy(part))

      var frontier: RDD[(Long, Long)] = b.cut(sources.select(col(idCol).cast("long")).na.drop()
        .distinct().as[Long].rdd.map((_, 0L)).partitionBy(part))
      // settled leaves, all on `part` — their union keeps the partitioner
      val settled = scala.collection.mutable.ArrayBuffer(frontier)
      def dist: RDD[(Long, Long)] = spark.sparkContext.union(settled.toSeq)
      var round = 0
      var frontierN = frontier.count()
      while (frontierN > 0 && round < maxIter) {
        round += 1
        val cand = e.join(frontier) // narrow: both on `part`
          .map { case (_, (dst, _)) => (dst, round.toLong) }
          .reduceByKey(part, (a, _) => a) // the round's one shuffle: dedup new visits
        val next = b.cut(cand.leftOuterJoin(dist) // narrow: cand and every settled leaf on `part`
          .filter { case (_, (_, old)) => old.isEmpty }
          .mapValues(_._1))
        frontierN = next.count()
        if (frontierN > 0) { settled += next; frontier = next }
      }
      if (frontierN > 0)
        throw new IllegalStateException(
          s"BFS frontier still ${frontierN} nodes after $maxIter rounds — raise maxIter")
      b.cut(spark.createDataset(dist).toDF("id", "dist"))
    }
  }
}
