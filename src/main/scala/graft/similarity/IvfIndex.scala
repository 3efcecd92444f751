package graft.similarity

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a coarse quantizer assigns every
  * vector to its nearest centroid bucket; a query probes only the
  * nprobe nearest buckets instead of scanning the corpus.
  *
  * Scale shape: the centroid set is the MODEL — K×dim doubles, a few
  * hundred KB — so it is materialized once and inlined as a literal
  * array into the assignment expression. Bucket assignment is then a
  * pure map over the corpus (no crossJoin, no shuffle, no window);
  * the only shuffle in search routes each query to its nprobe bucket
  * keys. Persist `assign(...)` partitioned/bucketed by `cid` and the
  * probe join becomes a pruned scan at 1000 executors.
  */
object IvfIndex {

  /** Collected coarse quantizer. Distance ranking uses the identity
    * |a−c|² = |a|² − 2a·c + |c|²: |a|² is constant across centroids,
    * so argmin/ordering needs only −2·dot(a,c) + |c|², with the dot
    * through the native codegen FloatDotFold (one primitive loop) and
    * |c|² a precomputed literal — replacing the per-centroid
    * interpreted difference-fold, which allocated per element and
    * dominated assignment time. Centroid components truncate to float
    * to match the expression input; ranking is unchanged up to float
    * noise on exact ties (and the quantizer is itself approximate).
    */
  case class Model(dim: Int, centroids: Array[(Int, Array[Double])]) {

    /** Per-centroid (rank-distance, cid) struct against `vec`. */
    private def distStructs(vec: Column): Seq[Column] =
      centroids.toIndexedSeq.map { case (cid, v) =>
        val cf = v.map(_.toFloat)
        val c2 = cf.map(x => x.toDouble * x.toDouble).sum
        struct(
          (lit(c2) - lit(2.0) * VectorFunctions.dotNative(vec, typedLit(cf.toSeq))).as("d"),
          lit(cid).as("cid"))
      }

    /** Nearest-centroid id for a vector column (map-only). */
    def assignExpr(vec: Column): Column =
      array_min(array(distStructs(vec): _*)).getField("cid")

    /** nprobe nearest centroid ids, ascending by distance (map-only). */
    def probeExpr(vec: Column, nprobe: Int): Column =
      transform(slice(array_sort(array(distStructs(vec): _*)), 1, nprobe),
        s => s.getField("cid"))
  }

  /** One distributed averaging pass over hash-partitioned groups
    * seeds the centroids; `refine` is the Lloyd iteration (reassign +
    * re-average) — run it 0..n times, each one broadcast-free
    * map pass + one narrow groupBy(cid) shuffle of partial sums.
    */
  def trainCentroids(vectors: DataFrame, dim: Int, nCentroids: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     refinements: Int = 1): Model = {
    graft.functions.VectorExpressions.register(vectors.sparkSession)
    val comp = (1 to dim).map(i => avg(element_at(col(vecCol), i).cast("double")).as(s"_c$i"))
    val seeds = vectors
      .withColumn("cid", pmod(col(idCol), lit(nCentroids.toLong)).cast("int"))
      .groupBy("cid")
      .agg(comp.head, comp.tail: _*)
    var model = collectModel(seeds, dim)
    (0 until refinements).foreach { _ =>
      val reassigned = vectors
        .withColumn("cid", model.assignExpr(col(vecCol)))
        .groupBy("cid")
        .agg(comp.head, comp.tail: _*)
      model = collectModel(reassigned, dim)
    }
    model
  }

  private def collectModel(agg: DataFrame, dim: Int): Model = {
    val rows = agg.collect().map { r =>
      (r.getInt(0), (1 to dim).map(i => r.getDouble(i)).toArray)
    }
    Model(dim, rows.sortBy(_._1))
  }

  /** INTEGER-QUANTIZED coarse quantizer (r15, the q127/q196 integer-
    * moments discipline applied to k-means TRAINING): coordinates
    * quantize once to floor(x·2^scaleBits) longs, cluster means are
    * integer `sum div count` (truncating division — identical in
    * Spark `div`, DuckDB `//` and JVM `/`), and assignment distance
    * is the exact integer SSE Σ(x−c)². Every step is order-free
    * integer arithmetic, so the WHOLE training round — seed, Lloyd
    * reassignment, final model — replays bit-exactly in any engine:
    * this is what moves q29 from rows-only to hash-oracled. Ranking
    * ties break by centroid id (total order).
    *
    * Numeric bounds: |x|·2^scaleBits must stay ≪ 2^31 per coordinate
    * (unit-norm embeddings at scaleBits ≤ 20 trivially do) so the
    * per-pair squared term fits a long at any dim, and per-cluster
    * coordinate sums fit a long up to ~2^62/(|x|·2^scaleBits) members
    * — beyond 100 TB corpus cluster sizes at scaleBits = 10.
    */
  case class QuantModel(dim: Int, scaleBits: Int, centroids: Array[(Int, Array[Long])]) {
    private def distStructs(vecQ: Column): Seq[Column] =
      centroids.toIndexedSeq.map { case (cid, c) =>
        struct(
          aggregate(
            zip_with(vecQ, typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, v) => acc + v).as("d"),
          lit(cid).as("cid"))
      }

    /** Nearest-centroid id for a QUANTIZED vector column (map-only;
      * ties break by cid via the struct order).
      */
    def assignExpr(vecQ: Column): Column =
      array_min(array(distStructs(vecQ): _*)).getField("cid")

    /** nprobe nearest centroid ids by integer distance (map-only). */
    def probeExpr(vecQ: Column, nprobe: Int): Column =
      transform(slice(array_sort(array(distStructs(vecQ): _*)), 1, nprobe),
        s => s.getField("cid"))
  }

  /** floor(x·2^scaleBits) per coordinate — float→double is exact and
    * the power-of-two product is exact, so the quantization is
    * engine-portable (floor, not round: HALF_UP semantics differ
    * across engines at exact .5).
    */
  def quantizeExpr(vec: Column, scaleBits: Int): Column =
    transform(vec, x => floor(x.cast("double") * lit(math.pow(2.0, scaleBits))).cast("long"))

  /** Integer-moments k-means: pmod(id) seeding, `refinements` Lloyd
    * rounds, everything in quantized-long space. Same shuffle shape
    * as [[trainCentroids]] — one map pass + one bounded-key groupBy
    * per round, model-sized collect only.
    */
  def trainCentroidsQuantized(vectors: DataFrame, dim: Int, nCentroids: Int,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              scaleBits: Int = 10, refinements: Int = 1): QuantModel = {
    val vq = vectors.select(col(idCol).cast("long").as("_id"),
      quantizeExpr(col(vecCol), scaleBits).as("_xq"))
    val aggs = count(lit(1)).as("_n") +:
      (1 to dim).map(i => sum(element_at(col("_xq"), i)).as(s"_s$i"))
    def modelOf(assigned: DataFrame): QuantModel = {
      val rows = assigned.groupBy("cid").agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val n = r.getLong(1)
          (r.getInt(0), (1 to dim).map(i => r.getLong(1 + i) / n).toArray)
        }
      QuantModel(dim, scaleBits, rows.sortBy(_._1))
    }
    var model = modelOf(vq.withColumn("cid",
      pmod(col("_id"), lit(nCentroids.toLong)).cast("int")))
    (0 until refinements).foreach { _ =>
      model = modelOf(vq.withColumn("cid", model.assignExpr(col("_xq"))))
    }
    model
  }

  /** Corpus with a `cid` bucket column (map-only pass). */
  def assign(vectors: DataFrame, model: Model, vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(vectors.sparkSession)
    vectors.withColumn("cid", model.assignExpr(col(vecCol)))
  }

  /** Persist the trained index: the model as one row per centroid
    * (model-sized — KBs), the bucketed corpus PARTITIONED BY cid so a
    * probe-time read with `cid isin probes` partition-prunes to the
    * nprobe touched buckets instead of scanning the corpus — the
    * build-offline / serve-later layout (IncrementalDedup's persisted
    * signature index, for vectors).
    */
  def save(model: Model, assignments: DataFrame, dir: String): Unit = {
    val spark = assignments.sparkSession
    import spark.implicits._
    model.centroids.toSeq
      .map { case (cid, v) => (model.dim, cid, v.toSeq) }
      .toDF("dim", "cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    assignments.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assignments")
  }

  /** Restore a saved index: (bit-identical Model, cid-partitioned
    * assignments DataFrame).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): (Model, DataFrame) = {
    val rows = Tables.open(spark, s"$dir/model")
      .select(col("dim"), col("cid"), col("centroid")).collect()
    require(rows.nonEmpty, s"no model at $dir/model")
    val dim = rows.head.getInt(0)
    val centroids = rows.map { r =>
      (r.getInt(1), r.getSeq[Double](2).toArray)
    }.sortBy(_._1)
    (Model(dim, centroids), Tables.open(spark, s"$dir/assignments"))
  }

  /** Probe search: explode each query to its nprobe bucket ids, join
    * the bucketed corpus on cid, exact-rank inside the probed buckets.
    */
  def search(assignments: DataFrame, model: Model, queries: DataFrame,
             k: Int, nprobe: Int,
             qidCol: String = "query_id", idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val probes = queries
      .select(col(qidCol), col(vecCol).as("_qvec"))
      .withColumn("cid", explode(model.probeExpr(col("_qvec"), nprobe)))
    searchProbed(assignments, probes, k, qidCol, idCol, vecCol)
  }

  /** The SCORING tier alone: given an already-routed probe set
    * (qidCol, `_qvec`, cid) — from [[Model.probeExpr]] or any other
    * router — join the bucketed corpus on cid and exact-rank by
    * cosine inside the probed buckets. Factored out so the
    * model-independent tier can be verified against a SQL oracle on a
    * deterministic probe set (the model's float-avg centroids are not
    * portably reproducible across engines; this tier is).
    */
  def searchProbed(assignments: DataFrame, probes: DataFrame, k: Int,
                   qidCol: String = "query_id", idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(assignments.sparkSession)
    val rankW = Window.partitionBy(col(qidCol)).orderBy(col("cosine").desc, col(idCol))
    probes
      .withColumn("_qn", VectorFunctions.normNative(col("_qvec")))
      .join(assignments.select(col("cid"), col(idCol), col(vecCol))
        .withColumn("_cn", VectorFunctions.normNative(col(vecCol))), Seq("cid"))
      .withColumn("cosine", VectorFunctions.cosineFromNorms(
        VectorFunctions.dotNative(col("_qvec"), col(vecCol)), col("_qn"), col("_cn")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("cosine"))
  }
}
