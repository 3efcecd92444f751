package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings",
  * ACL 2019 — the method behind CCMatrix/NLLB-scale parallel-corpus
  * construction): candidate translation pairs are embedding nearest
  * neighbors whose closeness STANDS OUT against each side's local
  * neighborhood — an absolute similarity threshold cannot separate
  * true translations from dense monolingual clusters, so the score
  * is a MARGIN relative to each endpoint's k-NN pool.
  *
  * Re-expressed in the engine's deterministic integer discipline
  * (the q29/q210 family): coordinates quantize to floor(x·2^bits)
  * longs, closeness is the exact integer SSE, candidate generation is
  * the q210 multi-probe bucket join over the integer-moments coarse
  * quantizer (production miners use FAISS ANN for exactly this role
  * — candidates are approximate by design), and the published ratio
  * margin becomes an integer cross-multiplication: with d = dist of
  * the pair and S = the summed k-NN pool distances of both endpoints
  * (n = pool size), accept iff d·n·marginPct < S·100 — i.e. the pair
  * is at least marginPct/100 closer than the average neighborhood,
  * computed without a division anywhere. No float in the chain.
  *
  * Scale shape: one probe-keyed candidate join (bucket-bounded, never
  * |A|×|B|), two (side, id)-keyed top-k pools, one best-pair window —
  * all map-side-combinable keyed shuffles; the coarse model
  * broadcasts.
  */
object BitextMining {

  /** Mine best-candidate pairs from `src` group documents toward
    * `tgt` group documents. `docs` carries (idCol, grpCol, vecCol);
    * output is one row per src document that has at least one
    * candidate: (src_id, tgt_id, dist, nn_n, nn_sum, selected) where
    * tgt_id is the nearest candidate, nn_n/nn_sum describe BOTH
    * endpoints' pooled k-NN distances, and selected applies the
    * integer margin test dist·nn_n·marginPct < nn_sum·100.
    */
  def minePairs(docs: DataFrame, model: IvfIndex.QuantModel,
                srcGrp: String, tgtGrp: String,
                idCol: String = "doc_id", grpCol: String = "lang",
                vecCol: String = "embedding",
                k: Int = 4, nprobe: Int = 3, marginPct: Int = 105): DataFrame = {
    require(k >= 1 && nprobe >= 1 && marginPct >= 100,
      s"need k >= 1, nprobe >= 1, marginPct >= 100; got $k/$nprobe/$marginPct")
    graft.functions.LongSseExpressions.register(docs.sparkSession)
    val q = IvfIndex.quantizeExpr(col(vecCol), model.scaleBits)
    val m = docs.select(col(idCol).cast("long").as("_id"), col(grpCol).as("_g"), q.as("_q"))
      .withColumn("_cid", explode(model.probeExpr(col("_q"), nprobe)))
    val a = m.filter(col("_g") === srcGrp)
      .select(col("_cid"), col("_id").as("src_id"), col("_q").as("_qa"))
    val b = m.filter(col("_g") === tgtGrp)
      .select(col("_cid"), col("_id").as("tgt_id"), col("_q").as("_qb"))
    // bucket-bounded candidates with the exact integer distance; a
    // pair sharing several probed buckets appears once. CACHED: three
    // consumers (both pools + the best-pair pick) read it — lazy, the
    // candidate join would run three times. dist computes BEFORE the
    // dedupe shuffle (r16, the q210 knnGraph fix: deduping first
    // shuffled every candidate pair WITH both 64-long quantized
    // vectors attached, ~40× the bytes of (src, tgt, d); a pair seen
    // via several shared buckets recomputes the same d map-side, so
    // the dedupe keeps an identical row whichever copy survives)
    val cand0 = a.join(b, Seq("_cid"))
      .withColumn("d", GraphAnn.intDist(col("_qa"), col("_qb")))
      .select(col("src_id"), col("tgt_id"), col("d"))
      .dropDuplicates("src_id", "tgt_id")
    graft.Exec.scoped { b =>
      val cand = b.cache(cand0)
      cand.count() // fill once before the branches race
      // k-NN pools on each side: the margin's denominator evidence
      def pool(keyCol: String, outId: String, outN: String, outSum: String) = {
        val w = Window.partitionBy(col(keyCol))
          .orderBy(col("d"), col(if (keyCol == "src_id") "tgt_id" else "src_id"))
        cand.withColumn("_r", row_number().over(w))
          .filter(col("_r") <= k)
          .groupBy(col(keyCol).as(outId))
          .agg(count(lit(1)).as(outN), sum(col("d")).as(outSum))
      }
      val srcPool = pool("src_id", "src_id", "_na", "_sa")
      val tgtPool = pool("tgt_id", "tgt_id", "_nb", "_sb")
      // best candidate per src, margin-tested against both pools
      val best = cand.withColumn("_r", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("d"), col("tgt_id"))))
        .filter(col("_r") === 1)
        .drop("_r")
      b.cut(best.join(srcPool, Seq("src_id"))
        .join(tgtPool, Seq("tgt_id"))
        .select(col("src_id"), col("tgt_id"), col("d").as("dist"),
          (col("_na") + col("_nb")).as("nn_n"),
          (col("_sa") + col("_sb")).as("nn_sum"),
          (col("d") * (col("_na") + col("_nb")) * marginPct <
            (col("_sa") + col("_sb")) * 100L).as("selected")))
    }
  }
}
