package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-shaped data selection: importance weighting of raw documents
  * toward a target domain via HASHED N-GRAM bucket counts (Xie et
  * al., "Data Selection for Language Models via Importance
  * Resampling", NeurIPS 2023 — the published method behind
  * domain-matched pre-training mixes). The engine side is:
  *
  *  1. featurize every document into hashed unigram+bigram buckets
  *     (the feature-hashing trick — FIXED feature space whatever the
  *     vocabulary, so the model is O(buckets), not O(vocab));
  *  2. count bucket mass over the TARGET slice and the RAW remainder
  *     — two bounded-key aggregates (≤ `buckets` distinct keys, map-
  *     side partials absorb the corpus scale);
  *  3. score each document by its features' target-vs-raw evidence —
  *     the bucket table is model-sized and BROADCAST, so the scoring
  *     pass is map-side at any corpus size;
  *  4. keep the top-k raw documents by score (TakeOrdered — k rows
  *     to the driver, never the corpus).
  *
  * The published method scores with Σ n_f·log(p̂_tgt(f)/p̂_raw(f));
  * log is libm-territory (q60's tradeoff), so the engine emits the
  * EXACT INTEGER first-order surrogate of that log-ratio at equal
  * totals — S = Σ_f n_f·(ct(f)·Nr − cr(f)·Nt), cross-multiplied so
  * no division happens — plus the raw sufficient statistics
  * (Σ n_f·ct, Σ n_f·cr, n_feats) a caller needs to apply any other
  * weighting. decimal(38,0) keeps the cross-products exact at 100 TB
  * corpus counts where long would overflow.
  *
  * Buckets use the portable md5 fold every sampling/hashing operator
  * here uses (engine-reproducible: same selection on Spark, DuckDB,
  * or anything with md5).
  */
object Dsir {

  /** Hashed feature buckets for one document: unigrams ('1:'+w) and
    * adjacent bigrams ('2:'+w1+' '+w2) over lowercased whitespace
    * tokens, each md5-folded into [0, buckets). Returned WITH
    * multiplicity (bag semantics, as the method requires).
    */
  def featureBuckets(text: Column, buckets: Int): Column = {
    val toks = TextFunctions.tokens(lower(text))
    val unis = transform(toks, t => concat(lit("1:"), t))
    val bis = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(lit("2:"), a, lit(" "), b))
    transform(concat(unis, bis),
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets)
  }

  /** Per-document hashed-feature rows: (idCol, bucket, n) with n the
    * in-document multiplicity. One explode + one (doc, bucket)
    * aggregate — the narrow corpus pass everything else builds on.
    */
  def docFeatures(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int): DataFrame =
    df.select(col(idCol), explode(featureBuckets(col(textCol), buckets)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** The bucket model: per-bucket target mass `ct` and raw mass `cr`
    * — ≤ `buckets` rows however large the corpus (the broadcastable
    * artifact; its totals ride along on every row so scoring needs no
    * second pass).
    */
  def bucketModel(feats: DataFrame, isTarget: Column): DataFrame = {
    val counted = feats
      .groupBy("bucket")
      .agg(sum(when(isTarget, col("n")).otherwise(0L)).as("ct"),
        sum(when(isTarget, 0L).otherwise(col("n"))).as("cr"))
    counted.crossJoin(broadcast(
      counted.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))))
  }

  /** Importance evidence per raw document: integer sufficient
    * statistics plus the exact cross-multiplied surrogate score.
    * `model` is broadcast — the join is map-side at any corpus size.
    */
  def score(rawFeats: DataFrame, model: DataFrame, idCol: String): DataFrame = {
    // every factor goes decimal BEFORE the multiply: ct·nr is a
    // corpus-count × corpus-count product that overflows long at scale
    def d(c: Column): Column = coalesce(c, lit(0L)).cast("decimal(38,0)")
    rawFeats.join(broadcast(model), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("n")).as("n_feats"),
        sum(col("n") * coalesce(col("ct"), lit(0L))).as("sum_tgt"),
        sum(col("n") * coalesce(col("cr"), lit(0L))).as("sum_raw"),
        sum(col("n").cast("decimal(38,0)") *
          (d(col("ct")) * d(col("nr")) - d(col("cr")) * d(col("nt"))))
          .cast("decimal(38,0)").as("score"))
  }

  /** End-to-end selection: featurize, build the target/raw model,
    * score every raw document, keep the top-k by (score desc, id).
    * Emits one row per RAW document with its evidence and the
    * `selected` verdict (top-k membership; k ids broadcast back —
    * never a corpus-scale collect).
    */
  def select(df: DataFrame, idCol: String, textCol: String,
             isTarget: Column, buckets: Int, k: Int): DataFrame = {
    // r18 (guide §2.4): materialize the (doc, bucket) feature frame
    // and the per-document evidence ONCE — `feats` feeds the bucket
    // model AND the scoring pass, `scored` feeds the top-k AND the
    // verdict join, and without a boundary Catalyst re-inlines the
    // whole explode+aggregate corpus subtree into every consumer (the
    // r17 plan audit: 24 parquet scans / 76 exchanges, zero
    // ReusedExchange — the consumers prune different columns, so the
    // exchanges are not canonically equal). Two eager cuts run the
    // corpus-scale work exactly once (the cached/InMemoryRelation form
    // was probed at several times the CPU — columnar build +
    // per-reference decompress); at cluster scale each boundary is a
    // scratch-table write, never a recompute-per-consumer. Only the
    // doc-scale evidence cut outlives the call (it IS the returned
    // plan's leaf).
    val scored = graft.Exec.scoped { b =>
      val feats = b.cut(docFeatures(df, idCol, textCol, buckets)
        .join(df.select(col(idCol), isTarget.as("_tgt")), Seq(idCol)))
      val model = bucketModel(feats, col("_tgt"))
      b.cut(score(feats.filter(!col("_tgt")), model, idCol))
    }
    val topK = scored
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), lit(true).as("selected"))
    scored.join(broadcast(topK), Seq(idCol), "left")
      .withColumn("selected", coalesce(col("selected"), lit(false)))
  }
}
