package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list — the link-graph QUALITY PRIOR
  * for web-derived corpora: crawl curation weights documents by their
  * host/page centrality (harmonic/PageRank-family scores) before
  * content signals ever run, and link analysis is the classic
  * whole-graph companion to ConnectedComponents' similarity grouping.
  *
  * Power iteration, one narrow shuffle per round: contributions =
  * (ranks ⋈ edges on src, rank/out-degree) → groupBy(dst) sum; the
  * new rank is (1−d)/N + d·(contribs + dangling/N) where the dangling
  * mass (rank parked on nodes with no out-links — crawl frontiers are
  * full of them) redistributes uniformly, keeping Σ ranks = 1 every
  * round (asserted by the spec, and the standard correctness
  * invariant). Out-degrees precompute once; lineage is cut every
  * round (the ConnectedComponents pattern —
  * round N's plan must not replay rounds 1..N−1); driver involvement
  * is one tiny scalar aggregate per round (the dangling mass), never
  * a data collect. `iters` bounds the rounds (10–20 ≈ convergence for
  * link graphs); an optional `tol` adds the L1-delta stopping rule —
  * stop once Σ|r_new − r_old| < tol — costing one more scalar
  * aggregate per round (a self-join of two model-sized rank tables,
  * never corpus data).
  */
object PageRank {

  /** (id, rank) for every node in `edges` (either side), damping `d`,
    * at most `iters` power-iteration rounds, early-stopped when the
    * L1 rank delta drops below `tol` (None = always run all rounds).
    */
  def ranks(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
            d: Double = 0.85, iters: Int = 10,
            tol: Option[Double] = None): DataFrame = {
    require(iters >= 1 && d > 0 && d < 1, s"bad params: d=$d iters=$iters")
    require(tol.forall(_ > 0), s"tol must be positive: $tol")
    graft.Exec.scoped { b =>
      val e = b.cache(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
      val nodes = b.cache(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      val n = nodes.count()
      require(n > 0, "empty graph: edge list has no nodes (1/n would be Infinity)")
      val outDeg = b.cache(e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).cast("double").as("out_deg")))

      var ranks = b.cut(nodes.withColumn("rank", lit(1.0 / n)))
      var i = 0
      var converged = false
      while (i < iters && !converged) {
        val withDeg = ranks.join(outDeg, Seq("id"), "left")
        // dangling mass: a tiny scalar aggregate, not a collect
        val dangling = withDeg.filter(col("out_deg").isNull)
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
        val contribs = withDeg.filter(col("out_deg").isNotNull)
          .join(e, col("id") === col("src"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("rank") / col("out_deg")).as("_c"))
        val next = b.cut(nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit((1.0 - d) / n) + lit(d) *
              (coalesce(col("_c"), lit(0.0)) + lit(dangling / n))).as("rank")))
        tol.foreach { t =>
          // L1 delta — the second scalar per round; both sides are
          // checkpointed model-sized rank tables
          val delta = ranks.select(col("id"), col("rank").as("_old"))
            .join(next, Seq("id"))
            .agg(sum(abs(col("rank") - col("_old")))).head().getDouble(0)
          if (delta < t) converged = true
        }
        ranks = next
        i += 1
      }
      ranks
    }
  }

  /** EXACT-INTEGER power iteration — the engine-portable twin of
    * `ranks`: every quantity is a scaled long (`scale` units = rank
    * 1/n·n = 1 initial unit per node), every division is a floor
    * division on non-negative longs, and every sum is an associative
    * integer sum — so the result is bit-identical whatever the
    * partitioning, executor count, or engine (the determinism
    * contract that lets the whole chain ride a cross-engine oracle
    * hash; the double path's per-round float sums are
    * reduction-order-dependent and cannot).
    *
    * Recurrence, all integer:
    *   share(u)   = rank(u) div outdeg(u)
    *   C(v)       = Σ_{u→v} share(u)           (multigraph: one term per edge)
    *   D          = Σ_{outdeg(u)=0} rank(u)    (dangling mass)
    *   rank'(v)   = ((dden−dnum)·scale) div dden
    *              + (dnum·(C(v) + D div n)) div dden
    * with d = dnum/dden (default 85/100). Floor remainders leak a few
    * units of mass per round (bounded by dden−1 per node — the spec
    * pins the bound); the fixed point ranks nodes identically to the
    * float iteration at scale ≥ 1e9.
    *
    * Execution shape (the r13 iterative-operator contract, like Bfs/
    * Hierarchy): the loop runs on co-partitioned RDDs — edges hash-
    * partitioned ONCE by src; ranks, degrees and the node universe on
    * the SAME partitioner, so the share join and the rank rebuild are
    * NARROW; the one wide op per round is the contribution
    * reduceByKey on dst. Driver touch per round = the dangling-mass
    * scalar (a fold, never a collect). Round frames are lazy lineage
    * cuts; a DataFrame loop here would pay ~0.5 s/round of
    * Catalyst replan regardless of data (the q117 adjudication).
    *
    * Overflow contract: requires dnum·(n·scale) < Long.Max (total
    * mass times the damping numerator) — checked after the node
    * count; at web scale (1e9 nodes) pass scale ≈ 1e6.
    */
  def ranksScaled(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                  scale: Long = 1000000000000L, dampNum: Long = 85,
                  dampDen: Long = 100, iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale > 0 && dampDen > dampNum && dampNum > 0,
      s"bad params: scale=$scale damp=$dampNum/$dampDen")
    val spark = edges.sparkSession
    import spark.implicits._
    graft.Exec.scoped { b =>
      val raw = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).na.drop()
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
      // r18: size-adaptive partitioner (GraphPart — guide §2.2); the
      // sizing count also caches raw, evaluated once for all derived RDDs
      val (_, part) = GraphPart.sized(raw, b)
      val e = b.cache(raw.partitionBy(part))
      // node universe = src ∪ dst, kept keyed on `part` throughout
      val nodes = b.cache(e.flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
        .reduceByKey(part, (a, _) => a))
      val n = nodes.count()
      require(n > 0, "empty graph: edge list has no nodes")
      require(BigInt(dampNum) * BigInt(n) * BigInt(scale) <= BigInt(Long.MaxValue),
        s"dampNum*n*scale overflows long (n=$n, scale=$scale) — lower scale")
      val deg = b.cache(e.mapValues(_ => 1L).reduceByKey(part, _ + _))
      val teleport = ((dampDen - dampNum) * scale) / dampDen

      var ranks: RDD[(Long, Long)] = b.cut(nodes.mapValues(_ => scale))
      var i = 0
      while (i < iters) {
        val withDeg = ranks.leftOuterJoin(deg) // narrow: both on `part`
        val dangling = withDeg.filter(_._2._2.isEmpty).map(_._2._1).fold(0L)(_ + _)
        val dShare = dangling / n
        val shares = withDeg.flatMapValues { case (r, od) =>
          od.map(d => r / d)
        } // flatMapVALUES keeps `part` — a bare flatMap would drop the
          // partitioner and turn the share join wide
        val contribs = e.join(shares) // narrow: both on `part`
          .map { case (_, (dst, sh)) => (dst, sh) }
          .reduceByKey(part, _ + _) // the round's one wide shuffle
        // materialized by the NEXT round's dangling fold (or the result
        // build) — lineage never exceeds one round
        ranks = b.cut(nodes.leftOuterJoin(contribs) // narrow
          .mapValues { case (_, c) =>
            teleport + (dampNum * (c.getOrElse(0L) + dShare)) / dampDen
          })
        i += 1
      }
      b.cut(spark.createDataset(
        ranks.leftOuterJoin(deg).map { case (id, (r, od)) => (id, r, od.getOrElse(0L)) })
        .toDF("id", "rank_scaled", "out_degree"))
    }
  }

  /** PERSONALIZED (seeded) PageRank, exact-integer — the TrustRank
    * shape (Gyöngyi et al., VLDB 2004): teleport mass returns ONLY to
    * a trusted/topical seed set instead of uniformly, so centrality
    * flows outward from the seeds and spam farms that bootstrap rank
    * from nowhere are demoted — the curation prior when a vetted
    * domain whitelist or topic anchor set exists. Same integer
    * discipline and co-partitioned RDD execution as [[ranksScaled]]:
    *
    *   rank0(v)  = scale·[v ∈ S]
    *   share/C   = as ranksScaled (one wide reduceByKey per round)
    *   D         = dangling mass, redistributed to SEEDS: ds = D div |S|
    *   rank'(v)  = [v∈S]·( ((dden−dnum)·scale) div dden )
    *             + (dnum·(C(v) + [v∈S]·ds)) div dden
    *
    * Every quantity a scaled long, every division a floor division on
    * non-negatives — bit-identical across engines/partitionings, so
    * the chain rides the cross-engine oracle. Seeds are intersected
    * with the graph's node universe (a seed with no edges cannot
    * receive or emit mass); empty intersection fails fast.
    */
  def personalizedScaled(edges: DataFrame, seeds: DataFrame,
                         srcCol: String = "src", dstCol: String = "dst",
                         idCol: String = "id",
                         scale: Long = 1000000000000L, dampNum: Long = 85,
                         dampDen: Long = 100, iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale > 0 && dampDen > dampNum && dampNum > 0,
      s"bad params: scale=$scale damp=$dampNum/$dampDen")
    val spark = edges.sparkSession
    import spark.implicits._
    graft.Exec.scoped { b =>
      val raw = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")).na.drop()
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
      // r18: size-adaptive partitioner (GraphPart — guide §2.2); the
      // sizing count also caches raw, evaluated once for all derived RDDs
      val (_, part) = GraphPart.sized(raw, b)
      val e = b.cache(raw.partitionBy(part))
      val seedRaw = seeds.select(col(idCol).cast("long")).na.drop()
        .distinct().as[Long].rdd.map((_, ()))
      // node universe with the seed flag joined ONCE, kept on `part`
      val nodes = b.cache(e.flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
        .reduceByKey(part, (a, _) => a)
        .leftOuterJoin(seedRaw.partitionBy(part))
        .mapValues { case (_, sd) => sd.isDefined })
      val n = nodes.count()
      require(n > 0, "empty graph: edge list has no nodes")
      val s = nodes.filter(_._2).count()
      require(s > 0, "no seed intersects the graph's node universe")
      require(BigInt(dampNum) * BigInt(s) * BigInt(scale) * 2 <= BigInt(Long.MaxValue),
        s"dampNum*|S|*scale overflows long (s=$s, scale=$scale) — lower scale")
      val deg = b.cache(e.mapValues(_ => 1L).reduceByKey(part, _ + _))
      val teleport = ((dampDen - dampNum) * scale) / dampDen

      var ranks: RDD[(Long, Long)] = b.cut(nodes.mapValues(sd => if (sd) scale else 0L))
      var i = 0
      while (i < iters) {
        val withDeg = ranks.leftOuterJoin(deg) // narrow
        val dangling = withDeg.filter(_._2._2.isEmpty).map(_._2._1).fold(0L)(_ + _)
        val dSeedShare = dangling / s
        val shares = withDeg.flatMapValues { case (r, od) => od.map(d => r / d) }
        val contribs = e.join(shares) // narrow
          .map { case (_, (dst, sh)) => (dst, sh) }
          .reduceByKey(part, _ + _) // the round's one wide shuffle
        ranks = b.cut(nodes.leftOuterJoin(contribs) // narrow
          .mapValues { case (sd, c) =>
            val cc = c.getOrElse(0L)
            if (sd) teleport + (dampNum * (cc + dSeedShare)) / dampDen
            else (dampNum * cc) / dampDen
          })
        i += 1
      }
      b.cut(spark.createDataset(
        ranks.leftOuterJoin(deg).join(nodes)
          .map { case (id, ((r, od), sd)) => (id, r, od.getOrElse(0L), sd) })
        .toDF("id", "rank_scaled", "out_degree", "is_seed"))
    }
  }
}
