package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent item-pair mining over baskets (market-basket /
  * co-occurrence analysis) with A-priori candidate pruning — the
  * association-rule primitive for "parts ordered together",
  * "documents co-cited", "tokens co-occurring in a window".
  *
  * A-priori (Agrawal & Srikant, VLDB'94, downward closure): a pair
  * can only reach support s if BOTH items individually reach s, so
  * pass 1 counts item supports (one keyed agg), and pass 2 generates
  * pair candidates only among frequent items — the per-basket pair
  * fan-out drops from k² to k_frequent², which is the difference
  * between intractable and routine on heavy-tailed real baskets
  * (most items are rare; rare items never pair).
  *
  * Shuffle shape: item-support agg (partial agg map-side), a semi
  * join of basket items against the frequent-item set (AQE
  * broadcasts it when it is small — the A-priori expectation — and
  * falls back to a keyed shuffle when a low threshold makes it
  * large, so no driver-side collect either way), a basket-keyed
  * self-join for pair generation, and the final pair-count agg.
  * Pruning is provably lossless: support(a,b) ≤ min(support(a),
  * support(b)), so no surviving pair is ever generated from an
  * infrequent item — the oracle twin (brute-force pair counting, no
  * pruning) hash-matching is exactly that proof on real data.
  */
object FrequentItemsets {

  /** All unordered item pairs (item_a < item_b) co-occurring in at
    * least `minSupport` baskets. Output: (item_a, item_b, n_a, n_b,
    * support) — per-item basket supports ride along for
    * confidence/lift computation downstream.
    */
  def frequentPairs(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // r18 (guide §2.4): materialize the distinct (basket, item) frame
    // and the frequent-item table once — `items` feeds the support
    // aggregate plus (via the cheap re-run semi-join `fi`) BOTH sides
    // of the pair self-join, and `frequent` feeds the semi-join
    // filter plus both n_a/n_b lookups; without a boundary Catalyst
    // re-inlines the corpus distinct subtree into every consumer (r17
    // plan audit: 12 parquet scans / 34 exchanges, zero
    // ReusedExchange — different column pruning per consumer). Two
    // eager cuts run the corpus-scale distinct + support
    // aggregate exactly once (the cached/InMemoryRelation form was
    // probed at several times the CPU); at cluster scale each boundary
    // is a scratch-table write. Both cuts are leaves of the returned
    // plan.
    val (items, frequent) = graft.Exec.scoped { b =>
      val items = b.cut(baskets.select(col(basketCol).as("b"), col(itemCol).as("it")).distinct())
      val support = items.groupBy("it").agg(count(lit(1)).as("n"))
      (items, b.cut(support.filter(col("n") >= minSupport)))
    }

    val fi = items.join(frequent.select("it"), Seq("it"), "left_semi")
    val pairs = fi.select(col("b"), col("it").as("item_a"))
      .join(fi.select(col("b"), col("it").as("item_b")), "b")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

    pairs
      .join(frequent.select(col("it").as("item_a"), col("n").as("n_a")), "item_a")
      .join(frequent.select(col("it").as("item_b"), col("n").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("support"))
  }
}
