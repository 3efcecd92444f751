package graft.operators

import graft.Exec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node degree and triangle counts over an undirected simple
  * graph, rounding out the graph suite (ConnectedComponents for
  * dedup islands, PageRank for centrality priors; triangles/degree
  * for local density — spam-farm detection and community scoring in
  * web-corpus curation).
  *
  * Triangle enumeration uses DEGREE-ORDERED ORIENTATION (Schank's
  * algorithm, the standard distributed formulation): every canonical
  * edge is directed from its lower-(degree, id) endpoint to the
  * higher one, wedges are enumerated only at each node's oriented
  * out-neighborhood, and a wedge closes iff its oriented third edge
  * exists. Orientation bounds every out-degree by O(√m), so total
  * wedge volume is O(m^1.5) REGARDLESS of degree skew — a hub with
  * degree d contributes d wedges as the low corner of other nodes'
  * orientations, not d² of its own. All three steps are key-shuffle
  * joins (edge → u; wedge → (v,w)); nothing is broadcast (the edge
  * set is unbounded) and nothing funnels to the driver. Triangle
  * counts are orientation-invariant, so the DuckDB oracle's simpler
  * id-ordered formulation (q86) must agree exactly.
  */
object GraphMetrics {

  /** Canonicalize arbitrary edge rows to deduped a<b pairs: both
    * directions collapse, self-loops drop.
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
      least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Node degrees of the canonical graph (nodes with ≥1 edge). */
  def degrees(canon: DataFrame): DataFrame =
    canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** Direct each canonical edge from its lower-(degree, id) endpoint
    * to the higher: (u, v, dv) with rank(u) < rank(v); `dv` carries
    * the head's degree so wedge enumeration can order out-neighbors
    * without a re-join.
    */
  def orient(canon: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv"))
  }

  /** One row per triangle, as its three corners (u, v1, v2). */
  def triangles(canon: DataFrame, deg: DataFrame): DataFrame =
    trianglesOriented(orient(canon, deg))

  private def trianglesOriented(oriented: DataFrame): DataFrame = {
    val x = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val y = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = x.join(y,
      Seq("u")).filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    // the closing edge is oriented v1→v2 by construction: rank(v1) <
    // rank(v2), and orientation directed it that way if it exists
    wedges.join(oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"), "left_semi")
  }

  /** (node, degree, triangles) for every node with at least one
    * edge; `triangles` counts the triangles the node is a corner of —
    * the q86 shape, over eagerly cut shared frames. A lazy plan
    * re-inlines the canonicalization/degree/orientation subtrees into
    * every consumer (exchange reuse does NOT dedupe them: each
    * consumer prunes different columns, so the exchanges are not
    * canonically equal — the r17/r18 plan audits show 34 live parquet
    * scans and zero ReusedExchange in the EXECUTED plan), and a
    * cached (InMemoryRelation) form pays the columnar
    * build/decompress on every reference (probed at ~6-10x the CPU of
    * either alternative at sf0.1). Three sequential cuts run the
    * edge-scale work exactly once; the probe has this at ~0.7x the
    * lazy plan's wall and ~0.6x its CPU at sf0.1, with the gap
    * widening with scale. The triangle corner stream itself is never
    * materialized — it flows straight into the per-node aggregate
    * (triangle volume can exceed m). The returned plan reads the
    * degree and oriented-edge cuts (a caller dropping the result
    * frees them via `Exec.free`).
    */
  def nodeMetricsOnePass(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Exec.scoped { b =>
      val canon = b.cut(canonical(edges, srcCol, dstCol))
      val deg = b.cut(degrees(canon))
      joinMetrics(deg, b.cut(orient(canon, deg)))
    }

  /** The k-CORE: nodes of the maximal subgraph in which every node
    * has degree ≥ k (with their within-core degree) — the classic
    * density filter above triangles (spam farms and tight communities
    * survive high-k cores; tendrils and link chains peel away). The
    * k-core is UNIQUE, so the result is peel-order-independent and a
    * driver-side reference peel must agree exactly (spec).
    *
    * Iterative peeling: drop all nodes of degree < k, recompute
    * degrees, repeat to fixpoint. Each round is one degree aggregate
    * + two anti-joins on the edge list (all key shuffles, nothing
    * broadcast, nothing data-sized on the driver — one emptiness
    * probe per round), with a lineage cut per round (the
    * ConnectedComponents pattern). Round count is bounded
    * by the peel depth, data-dependent but small for power-law
    * graphs; `maxIter` fail-fasts rather than returning a partially
    * peeled (NOT-a-core) subgraph — a k=2 peel of a long path needs
    * length/2 rounds, so chain-heavy graphs may need a higher cap.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be ≥ 1: $k")
    Exec.scoped { b =>
      var canon = b.cut(canonical(edges, srcCol, dstCol))
      var deg = degrees(canon)
      var settled = false
      var iter = 0
      while (!settled && iter < maxIter) {
        // r18 (guide §2.4): the loser set drives the round's fixpoint
        // probe AND both anti joins of the next peel — materialized once
        // per round (loser-scale, strictly smaller than the frontier),
        // so the degree aggregate runs once per round instead of twice
        // (the probe's run and the next canon's shared subtree).
        val losers = b.cut(deg.filter(col("degree") < k).select(col("node")))
        settled = losers.isEmpty
        if (!settled) {
          canon = b.cut(canon
            .join(losers.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
            .join(losers.withColumnRenamed("node", "b"), Seq("b"), "left_anti"))
          deg = degrees(canon)
          iter += 1
        }
      }
      // one fixpoint check after the last allowed peel
      if (settled || deg.filter(col("degree") < k).isEmpty) deg
      else throw new IllegalStateException(
        s"kCore(k=$k) did not reach the fixpoint after $maxIter peel rounds — " +
          "returning now would yield a subgraph that is NOT the k-core. Raise " +
          "maxIter (rounds are peel-depth-bounded).")
    }
  }

  private[graft] def joinMetrics(deg: DataFrame, oriented: DataFrame): DataFrame = {
    val tri = trianglesOriented(oriented)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
