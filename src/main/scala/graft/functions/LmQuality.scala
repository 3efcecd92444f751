package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LM-based document QUALITY SCORING — the CCNet-style corpus gate
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", LREC 2020): score every document
  * under a language model trained on the corpus, then bucket into
  * head/middle/tail and keep the clean end. This composes the
  * engine's Kneser-Ney machinery ([[KneserNey]], q152) into the
  * quality-filter stage a 100 TB curation pipeline runs after the
  * heuristic gates (q21 quality, q55 Gopher, q58 repetition): the
  * heuristics catch boilerplate shapes, the LM catches fluency.
  *
  * DELIBERATE deviation (the Bm25 odds-ratio precedent): CCNet
  * buckets by PERPLEXITY, exp(−Σ log p / N) — but log/exp are libm
  * calls no two engines round identically, so the hash-exact oracle
  * contract forbids them. The score here is the MEAN KN BIGRAM
  * LIKELIHOOD: Σ P_KN(w_i | w_{i−1}) / (n−1), summed IN DOCUMENT
  * ORDER as one sequential double fold (the FloatDotFold / q119
  * discipline — DuckDB's `list_reduce` over an ORDER BY pos
  * array_agg replays the identical chain). Mean likelihood orders
  * documents the same way perplexity does at the fluent end (both
  * are monotone in the per-pair probabilities); the tail-end ranking
  * differs in principle (perplexity punishes a single very-rare pair
  * harder), which is acceptable for a THRESHOLD gate and exact for
  * the oracle.
  *
  * Unseen mass: a pair whose bigram is unseen but whose context w1
  * is in the model scores the interpolated backoff alone — exactly
  * `pknExpr` with c12 = 0 (its discounted term is max(0−d,0)/c1 =
  * 0.0, so ONE mirrored formula covers seen and unseen bigrams); a
  * pair whose context w1 was never seen scores 0.0 (no model row to
  * back off into — at training = scoring corpus this only happens
  * when w1 appears exclusively document-finally). `n_oov_ctx` counts
  * those pairs so the caller can see when a score is evidence-thin.
  *
  * Scale shape: the model tables are vocab-scale re-aggregations of
  * ONE corpus bigram explode (the q152/q113 aggregate-before-join
  * contract, AQE reuses the explode's exchange); scoring is a second
  * corpus-scale pair explode joined to the model tables on TOKEN
  * keys (keyed shuffles — the vocabulary is unbounded, nothing
  * broadcasts except the one-row B total), then one per-document
  * re-group. The corpus text is never shuffled — only (id, pos, w1,
  * w2) pairs and per-token stats move.
  */
object LmQuality {

  /** Per-document mean KN-bigram likelihood under the model trained
    * on `docs` itself (the CCNet in-domain setup). Output: (idCol,
    * n_pairs, n_seen, n_oov_ctx, mean_p) — integers exact, `mean_p`
    * one ordered fold + one division. Documents with fewer than two
    * tokens have no pairs and are absent (mirror the filter on the
    * consumer side).
    */
  def scoreDocuments(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    scoreAgainst(docs, docs, idCol, textCol)

  /** The real CCNet setup: the model trains on `train` (their
    * Wikipedia), documents come from `docs` (their CommonCrawl). With
    * train ≠ docs the unseen arms are live: a pair whose bigram the
    * model lacks scores backoff-only, a pair whose CONTEXT the model
    * lacks scores 0.0 and increments `n_oov_ctx`.
    */
  def scoreAgainst(train: DataFrame, docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    scoreWith(trainModel(train, textCol), docs, idCol, textCol)

  /** The four model tables, built once: `bg` is an eager cut, and
    * the other three are cheap re-aggregations of it. A repeated
    * scorer (a streaming gate scoring every micro-batch —
    * StreamingLmQuality) reuses the model instead of re-running the
    * corpus aggregation every trigger.
    */
  final case class Model(bg: DataFrame, c1: DataFrame, n1b: DataFrame, b: DataFrame)

  def trainModel(train: DataFrame, textCol: String = "text"): Model = {
    // r18 (guide §2.4): bg feeds all four model tables AND the scoring
    // join — lazy, the corpus bigram explode+aggregate re-ran once per
    // consumer (measured: q164 cpu 17.4 s/iter, the explode 4×). One
    // eager boundary at bigram-type scale (the table a production LM
    // persists) runs it once; c1/n1b/b are cheap re-aggregations of
    // the materialized model.
    val bg = graft.Exec.scoped(_.cut(KneserNey.bigramCounts(train, textCol)))
    Model(
      bg,
      bg.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1f")),
      bg.groupBy("w2").agg(count(lit(1)).as("n1b")),
      bg.agg(count(lit(1)).as("b_total")))
  }

  /** Score `docs` against an already-built model. */
  def scoreWith(model: Model, docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val bg = model.bg
    val c1 = model.c1
    val n1b = model.n1b
    val b = model.b

    val toks = docs
      .select(col(idCol).as("_lid"), TextFunctions.tokens(lower(col(textCol))).as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks.select(col("_lid"), posexplode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("_lid"), col("pos"), col("col.w1").as("w1"), col("col.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)

    val scored = pairs
      .join(bg, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(n1b, Seq("w2"), "left")
      .crossJoin(broadcast(b))
      .withColumn("_p",
        when(col("c1").isNull, lit(0.0))
          .otherwise(KneserNey.pknExpr(coalesce(col("c12"), lit(0L)), col("c1"),
            col("n1f"), coalesce(col("n1b"), lit(0L)), col("b_total"))))

    scored.groupBy(col("_lid").as(idCol))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("c12").isNotNull, 1L).otherwise(0L)).as("n_seen"),
        sum(when(col("c1").isNull, 1L).otherwise(0L)).as("n_oov_ctx"),
        sort_array(collect_list(struct(col("pos"), col("_p")))).as("_ps"))
      .withColumn("mean_p",
        aggregate(col("_ps"), lit(0.0), (acc, x) => acc + x.getField("_p")) /
          col("n_pairs").cast("double"))
      .drop("_ps")
  }

  /** CCNet's head/middle/tail verdict from two mean-likelihood
    * thresholds (head ≥ t1 > middle ≥ t2 > tail). Pure comparison on
    * the already-mirrored double, so any engine replays it exactly.
    */
  def bucketExpr(meanP: Column, t1: Double, t2: Double): Column = {
    require(t1 > t2, s"need t1 > t2, got $t1 <= $t2")
    when(meanP >= t1, "head").when(meanP >= t2, "middle").otherwise("tail")
  }
}
