package graft.similarity

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011) — the vector-COMPRESSION leg
  * of the ANN suite: the D-dim space factors into `m` orthogonal
  * subspaces of D/m dims, each with its own k-centroid codebook, so
  * a vector compresses to m small codes (m·log₂k bits — 8 bytes
  * instead of 256 for D=64, m=8, k=16 float32) while distances
  * remain computable FROM THE CODES via asymmetric distance (ADC):
  * ‖q−x‖² ≈ Σ_s ‖q_s − c_{s,code_s(x)}‖². This is what makes
  * billion-vector serving fit in memory; composed with IvfIndex
  * bucket routing it is the standard IVF-PQ layout.
  *
  * Training reuses the IVF machinery per subspace (seeded average +
  * Lloyd refinement over SLICED vectors — each subspace's training is
  * the same one-narrow-shuffle-per-round shape). Encoding is a
  * map-only pass: the codebooks are model-sized literals inside
  * nearest-centroid expressions (no join, no shuffle, no UDF).
  * ADC scoring is likewise pure column arithmetic: the code SELECTS
  * the centroid from a literal array, FloatDotFold supplies the
  * cross term, and per-centroid norms ride as literal lookups —
  * queries are never collected to the driver.
  *
  * Like the IVF coarse quantizer (q29), codebook training averages
  * doubles — not portably reproducible across engines — so the q114
  * surface is rows-only by declared design with the guarantees
  * spec-pinned instead: identical vectors encode identically, codes
  * are partition-invariant, ADC self-distance beats planted-far
  * distance, and recall@k against exact cosine on clustered data.
  */
object ProductQuantizer {

  /** Trained codebooks: `books(s)` holds subspace s's k centroids
    * (each of dim/m components).
    */
  case class Model(dim: Int, m: Int, k: Int, books: Array[IvfIndex.Model]) {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim: Int = dim / m

    private def sub(vec: Column, s: Int): Column = slice(vec, s * subDim + 1, subDim)

    /** m nearest-sub-centroid codes for a vector column (map-only). */
    def encodeExpr(vec: Column): Column =
      array((0 until m).map(s => books(s).assignExpr(sub(vec, s))): _*)

    /** ADC distance ‖q − decode(code)‖² as pure column arithmetic:
      * Σ_s (‖q_s‖² − 2·q_s·c + ‖c‖²) with the centroid c selected
      * from a literal codebook array by code_s.
      */
    def adcDistExpr(queryVec: Column, codeCol: Column): Column = {
      val terms = (0 until m).map { s =>
        // dense cid-indexed table: a Lloyd round can drop a cluster,
        // leaving a cid gap — codes only ever take LIVE cids, so gap
        // fillers are inert, but positions must stay cid-aligned.
        val byCid = books(s).centroids.map { case (cid, v) => cid -> v }.toMap
        val maxCid = books(s).centroids.map(_._1).max
        val cents = (0 to maxCid).map(cid =>
          byCid.getOrElse(cid, Array.fill(subDim)(0.0)).map(_.toFloat))
        val bookLit = typedLit(cents.map(_.toSeq))
        val normLit = typedLit(cents.map(c => c.map(x => x.toDouble * x.toDouble).sum))
        val code = element_at(codeCol, s + 1)
        val chosen = element_at(bookLit, code + 1)
        val qs = sub(queryVec, s)
        VectorFunctions.dotNative(qs, qs) -
          lit(2.0) * VectorFunctions.dotNative(qs, chosen) +
          element_at(normLit, code + 1)
      }
      terms.reduce(_ + _)
    }
  }

  /** Train m per-subspace codebooks of k centroids each. The slim
    * (id, vec) projection is cached for the duration (each subspace
    * reads it 1 + refinements times) and the m independent trainings
    * submit their Spark jobs CONCURRENTLY from driver threads — the
    * scheduler interleaves them, so wall-clock is a few job rounds
    * instead of m × (1 + refinements) sequential rounds.
    */
  def train(vectors: DataFrame, dim: Int, m: Int, k: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            refinements: Int = 1): Model = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    graft.Exec.scoped { b =>
      val slim = b.cache(vectors.select(col(idCol), col(vecCol)))
      slim.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val books = Await.result(
        Future.sequence((0 until m).map(s => Future {
          IvfIndex.trainCentroids(
            slim.select(col(idCol), slice(col(vecCol), s * subDim + 1, subDim).as("_sub")),
            subDim, k, idCol, "_sub", refinements)
        })), scala.concurrent.duration.Duration.Inf).toArray
      Model(dim, m, k, books)
    }
  }

  /** INTEGER-QUANTIZED PQ (r15, the q29 move applied per subspace —
    * this is what moved q114 from rows-only to hash-oracled):
    * coordinates quantize once to floor(x·2^scaleBits) longs, each
    * subspace trains the integer-moments k-means
    * ([[IvfIndex.trainCentroidsQuantized]] on the slice), codes are
    * exact-integer-SSE argmins, and ADC itself is INTEGER — the
    * asymmetric distance Σ_s ‖q_s − c_{s,code_s}‖² over quantized
    * longs, so search results carry no float at all and the whole
    * train → encode → ADC → rank chain replays in any engine.
    */
  case class QuantPq(dim: Int, m: Int, k: Int, scaleBits: Int,
                     books: Array[IvfIndex.QuantModel]) {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim: Int = dim / m

    private def subQ(vecQ: Column, s: Int): Column = slice(vecQ, s * subDim + 1, subDim)

    /** m nearest-sub-centroid codes for a QUANTIZED vector column. */
    def encodeExpr(vecQ: Column): Column =
      array((0 until m).map(s => books(s).assignExpr(subQ(vecQ, s))): _*)

    /** Exact integer ADC: Σ_s (q_s − c_{s,code_s})² with the centroid
      * selected from a literal cid-dense codebook (gap fillers for
      * Lloyd-dropped clusters are inert — codes only take live cids).
      */
    def adcDistExpr(queryQ: Column, codeCol: Column): Column = {
      val terms = (0 until m).map { s =>
        val byCid = books(s).centroids.toMap
        val maxCid = books(s).centroids.map(_._1).max
        val cents = (0 to maxCid).map(cid =>
          byCid.getOrElse(cid, Array.fill(subDim)(0L)).toSeq)
        val bookLit = typedLit(cents)
        val code = element_at(codeCol, s + 1)
        val chosen = element_at(bookLit, code + 1)
        val qs = subQ(queryQ, s)
        aggregate(zip_with(qs, chosen, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v)
      }
      terms.reduce(_ + _)
    }
  }

  /** Train the quantized codebooks — the [[train]] shape (cached slim
    * projection, m concurrent subspace trainings) over integer
    * arithmetic end to end.
    */
  def trainQuantized(vectors: DataFrame, dim: Int, m: Int, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     scaleBits: Int = 10, refinements: Int = 1): QuantPq = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    graft.Exec.scoped { b =>
      val slim = b.cache(vectors.select(col(idCol), col(vecCol)))
      slim.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val books = Await.result(
        Future.sequence((0 until m).map(s => Future {
          IvfIndex.trainCentroidsQuantized(
            slim.select(col(idCol), slice(col(vecCol), s * subDim + 1, subDim).as("_sub")),
            subDim, k, idCol, "_sub", scaleBits, refinements)
        })), scala.concurrent.duration.Duration.Inf).toArray
      QuantPq(dim, m, k, scaleBits, books)
    }
  }

  /** Corpus with a `pq_code` column from the quantized model
    * (map-only pass; quantization happens inline).
    */
  def encodeQuantized(vectors: DataFrame, model: QuantPq,
                      vecCol: String = "embedding"): DataFrame =
    vectors.withColumn("pq_code",
      model.encodeExpr(IvfIndex.quantizeExpr(col(vecCol), model.scaleBits)))

  /** Compressed-domain top-k by INTEGER ADC — [[search]] with the
    * quantized model; adc_dist is an exact long.
    */
  def searchQuantized(encoded: DataFrame, model: QuantPq, queries: DataFrame, k: Int,
                      qidCol: String = "query_id", idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val rankW = Window.partitionBy(col(qidCol)).orderBy(col("adc_dist").asc, col(idCol))
    queries.select(col(qidCol),
      IvfIndex.quantizeExpr(col(vecCol), model.scaleBits).as("_qq"))
      .crossJoin(encoded.select(col(idCol), col("pq_code")))
      .withColumn("adc_dist", model.adcDistExpr(col("_qq"), col("pq_code")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("adc_dist"))
  }

  /** Corpus with a `pq_code` column (map-only pass). */
  def encode(vectors: DataFrame, model: Model, vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(vectors.sparkSession)
    vectors.withColumn("pq_code", model.encodeExpr(col(vecCol)))
  }

  /** Top-k per query by ADC distance over the ENCODED corpus — the
    * compressed-domain search (compose with IvfIndex routing for the
    * IVF-PQ bucket-pruned layout; this is the scoring tier).
    */
  def search(encoded: DataFrame, model: Model, queries: DataFrame, k: Int,
             qidCol: String = "query_id", idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val rankW = Window.partitionBy(col(qidCol)).orderBy(col("adc_dist").asc, col(idCol))
    queries.select(col(qidCol), col(vecCol).as("_qvec"))
      .crossJoin(encoded.select(col(idCol), col("pq_code")))
      .withColumn("adc_dist", model.adcDistExpr(col("_qvec"), col("pq_code")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("adc_dist"))
  }

  /** IVFADC: ADC search restricted to PROBED buckets (Jégou et al.,
    * TPAMI 2011 — the production serving layout: coarse routing
    * prunes, PQ codes compress, ADC scores). `encoded` carries a
    * bucket column; `probes` is (query, _qvec, bucket) — one row per
    * probed bucket per query, however the caller routes (IvfIndex
    * centroids, or a deterministic function for the oracled tier).
    * The join is KEYED on the bucket — per query the scan touches
    * nprobe buckets' codes, never the corpus (the crossJoin in
    * [[search]] is the brute baseline this prunes); at serving scale
    * `encoded` is partitioned by bucket so the probe read is a
    * partition-pruned fetch (the q29/q40 layout).
    */
  def searchProbed(encoded: DataFrame, model: Model, probes: DataFrame, k: Int,
                   qidCol: String = "query_id", idCol: String = "vec_id",
                   bucketCol: String = "cid"): DataFrame = {
    graft.functions.VectorExpressions.register(probes.sparkSession)
    val rankW = Window.partitionBy(col(qidCol)).orderBy(col("adc_dist").asc, col(idCol))
    probes.select(col(qidCol), col("_qvec"), col(bucketCol))
      .join(encoded.select(col(idCol), col("pq_code"), col(bucketCol)), Seq(bucketCol))
      .withColumn("adc_dist", model.adcDistExpr(col("_qvec"), col("pq_code")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("adc_dist"))
  }
}
