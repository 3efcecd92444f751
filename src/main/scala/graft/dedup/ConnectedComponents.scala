package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the missing
  * half of near-duplicate detection: pair emitters (MinHash LSH,
  * SimHash, embedding cosine) produce EDGES, but dedup needs GROUPS
  * (one keeper per component of the similarity graph).
  *
  * Algorithm: iterative minimum-label propagation. Every node starts
  * labeled with its own id; each round every node takes the min of its
  * label and its neighbors' labels; fixpoint after O(diameter) rounds.
  * Each round is one shuffle (edge→label join + groupBy min) — the
  * round count is data-diameter-bounded, not data-size-bounded, and
  * near-dup similarity graphs are overwhelmingly tiny star/clique
  * components (diameter ≤ ~3), so 100 TB corpora converge in a
  * handful of rounds. For adversarial long-chain graphs the classic
  * fix is the large-star/small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") which squares the
  * convergence rate; the propagation loop here keeps the same join
  * shape, so swapping the step is local.
  *
  * Driver involvement is one `count()` per round (convergence test) —
  * O(rounds) actions, never a data collect. Lineage is cut every
  * round so round N's plan does not replay rounds 1..N-1.
  */
object ConnectedComponents {

  /** (id, comp) for every node appearing in `edges`; comp = min node
    * id in the node's component. Nodes not in any edge are the
    * caller's to union in as singletons (edge lists don't know them).
    *
    * Throws IllegalStateException if the fixpoint is NOT reached
    * within `maxIter` rounds: a partially-propagated labeling splits
    * one true component into several, which downstream dedup would
    * silently treat as several groups with several "keepers" — a
    * wrong answer no one can eyeball at corpus scale. Callers hitting
    * the cap should raise `maxIter` (rounds are diameter-bounded) or
    * switch the step to large-star/small-star contraction.
    */
  def components(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                 maxIter: Int = 25): DataFrame = {
    graft.Exec.scoped { b =>
      val sym = b.cache(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
      // init fuses the first propagation round: comp₀ = min(id, min
      // neighbor) straight off the edge list — one groupBy instead of a
      // distinct + a join round. For pair/star-shaped components (the
      // dominant near-dup shape) this IS the fixpoint, so the loop's
      // first pass only confirms convergence.
      var labels = b.cut(sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("comp"))
        .select(col("src").as("id"), col("comp")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = sym
          .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("comp")).as("_nbr"))
        // materializes the round; truncates lineage
        val stepped = b.cut(labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("_nbr"), col("comp"))).as("comp"),
            (col("_nbr") < col("comp")).as("_chg")))
        converged = stepped.filter(col("_chg")).isEmpty
        labels = stepped.drop("_chg")
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"ConnectedComponents did not converge after $maxIter iterations — " +
            "a component with diameter > maxIter would be silently split into " +
            "multiple groups. Raise maxIter (rounds are diameter-bounded, so " +
            "near-dup graphs converge in a handful) or use star-contraction.")
      labels
    }
  }

  /** Dedup grouping: every doc mapped to its near-dup group id (the
    * min doc id of its similarity component; singletons map to
    * themselves) with the keeper flagged. `pairs`: (idA, idB) edges
    * from any near-dup pair emitter.
    */
  def groups(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
             idACol: String = "id_a", idBCol: String = "id_b",
             maxIter: Int = 25): DataFrame = {
    val comp = components(pairs, idACol, idBCol, maxIter)
    docs.select(col(idCol))
      .join(comp, col(idCol) === col("id"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("group_id"))
      .withColumn("is_keeper", col(idCol) === col("group_id"))
  }
}
