package graft.functions

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINED linear quality classifier over hashed n-gram features —
  * the tier the CCNet/RefinedWeb-style curation recipes train (a
  * fastText-like linear model deciding keep/drop), where
  * [[LinearClassifier]] only SCORES with stand-in hash-derived
  * weights. Training is the classic BATCH perceptron (the perceptron
  * update applied to the whole epoch's mistake set at once —
  * equivalently unit-step subgradient descent on hinge loss at
  * margin 0):
  *
  *   epoch t:  m_i = Σ_f n_if · w_t(f)            (margin per doc)
  *             M_t = { i : y_i · m_i ≤ 0 }         (the mistake set)
  *             w_{t+1}(f) = w_t(f) + Σ_{i∈M_t} y_i · n_if
  *
  * The batch (not sequential) variant is chosen deliberately: the
  * update is an ORDER-FREE integer sum over the mistake set, so the
  * trained weights are independent of partitioning and row order —
  * the same property that let q29's k-means and q114's PQ codebooks
  * move from rows-only to hash-oracled. A sequential perceptron's
  * weights depend on example order; the published distributed recipe
  * (McDonald, Hall & Mann, NAACL 2010: per-shard training + weight
  * averaging) trades that order dependence for shard-boundary
  * dependence — also unportable. Batch updates unroll in any engine
  * as one join + two aggregates per epoch.
  *
  * Features are [[Dsir.featureBuckets]] — hashed unigram+bigram
  * buckets with multiplicity, the md5 fold every hashing operator
  * here uses — so the feature space is FIXED (`buckets`) whatever
  * the vocabulary, and the model is O(buckets) however large the
  * corpus.
  *
  * Scale shape per epoch: margins are one broadcast join of the
  * bucket-sized weight table + one per-doc window sum over the
  * id-partitioned feature rows (cached once, reused every epoch);
  * the update is one bounded-key (≤ `buckets`) aggregate with
  * map-side partials; only the model-sized delta table is ever
  * collected. Nothing corpus-sized crosses an epoch boundary.
  *
  * Numeric bounds: |w(f)| ≤ epochs · Σ_i n_if (total bucket mass),
  * and |margin| ≤ doc_mass · max|w| — longs overflow only past
  * ~2^31 corpus tokens per bucket × 2^31 doc mass; at 100 TB scale
  * cap per-doc feature mass (clip n) or scale buckets up so bucket
  * mass stays bounded.
  */
object Perceptron {

  /** Trained model: dense integer weights indexed by bucket. */
  final case class Model(buckets: Int, epochs: Int, weights: Array[Long]) {
    def weightsDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      weights.toIndexedSeq.zipWithIndex
        .map { case (w, b) => (b.toLong, w) }.toDF("bucket", "_w")
    }
  }

  /** Batch-perceptron training over `docs`: `posLabel` (boolean
    * column over docs) becomes y ∈ {+1, −1}, features are hashed
    * unigram+bigram buckets of `textCol`, `epochs` full-batch update
    * rounds from w = 0. Docs with zero features never contribute to
    * any update (their margin is 0 and their mistake rows carry no
    * feature mass) — both engines agree by construction.
    */
  def trainBatch(docs: DataFrame, idCol: String, textCol: String,
                 posLabel: Column, buckets: Int, epochs: Int): Model = {
    val spark = docs.sparkSession
    graft.Exec.scoped { sc =>
      val rows = sc.cache(Dsir.docFeatures(docs, idCol, textCol, buckets)
        .join(docs.select(col(idCol),
          when(posLabel, 1L).otherwise(-1L).as("_y")), Seq(idCol))
        .select(col(idCol).as("_id"), col("bucket"), col("n"), col("_y"))
        .repartition(col("_id"))) // every epoch's margin window reuses this layout
      val w = Array.fill(buckets)(0L)
      val wm = Window.partitionBy(col("_id"))
      (0 until epochs).foreach { _ =>
        val deltas = rows
          .join(broadcast(Model(buckets, epochs, w).weightsDf(spark)),
            Seq("bucket"), "left")
          .withColumn("_m", sum(col("n") * coalesce(col("_w"), lit(0L))).over(wm))
          .filter(col("_y") * col("_m") <= 0L)
          .groupBy(col("bucket"))
          .agg(sum(col("_y") * col("n")).as("_d"))
          .collect() // bounded: ≤ buckets rows — the model, not the corpus
        deltas.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
      }
      Model(buckets, epochs, w)
    }
  }

  /** Margin of every FEATURED doc under the trained model — one
    * broadcast join + one per-doc aggregate, map-side at any corpus
    * size. Docs with zero features are absent; callers left-join and
    * coalesce to 0 (the empty bag's true margin).
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame =
    Dsir.docFeatures(docs, idCol, textCol, model.buckets)
      .join(broadcast(model.weightsDf(docs.sparkSession)), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("n") * coalesce(col("_w"), lit(0L))).as("margin"))

  /** Persist a trained model — the train-offline / score-later layout
    * (GraphAnn.save / IvfIndex.save precedent for the classifier
    * tier): the dense weight table as a (bucket, weight) parquet plus
    * a one-row metadata table, so a curation job on another cluster
    * loads and scores with zero re-derivation. The artifact is
    * model-sized (≤ buckets rows) however large the training corpus.
    */
  def save(model: Model, dir: String,
           spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    Seq((model.buckets, model.epochs)).toDF("buckets", "epochs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    model.weights.toIndexedSeq.zipWithIndex
      .map { case (w, b) => (b.toLong, w) }.toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
  }

  /** Restore a saved model: scoring with it is bit-identical to
    * scoring with the pre-save Model (integer weights round-trip
    * exactly).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val m = Tables.open(spark, s"$dir/meta").collect()
    require(m.nonEmpty, s"no perceptron metadata at $dir/meta")
    val buckets = m.head.getAs[Int]("buckets")
    val w = Array.fill(buckets)(0L)
    Tables.open(spark, s"$dir/weights").collect() // model-sized: ≤ buckets rows
      .foreach(r => w(r.getAs[Long]("bucket").toInt) = r.getAs[Long]("weight"))
    Model(buckets, m.head.getAs[Int]("epochs"), w)
  }
}
