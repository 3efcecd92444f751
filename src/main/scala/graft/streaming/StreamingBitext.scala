package graft.streaming

import graft.similarity.{BitextMining, GraphAnn, IvfIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D37 — streaming BITEXT MINING: arriving target-language documents
  * are margin-tested against a STANDING source-language index (the
  * C118/q211 criterion run incrementally) — the shape of continuous
  * parallel-corpus construction, where crawls deliver candidate
  * translations in drops and each drop must be mined without
  * rescanning the source corpus.
  *
  * The index is built ONCE (`buildIndex` = quantized coordinates +
  * multi-probe bucket memberships of the source side; persist
  * partitioned BY bucket so a drop's probe join partition-prunes).
  * Per micro-batch: arriving docs quantize and explode to their
  * nprobe buckets map-side, join the index KEYED on the bucket, and
  * each arriving doc's best source match margin-tests against BOTH
  * pools — the batch doc's own candidate pool and the source doc's
  * pool WITHIN the batch's candidates. Per tick the cost is
  * batch × probed buckets' members, never corpus × batch.
  *
  * The margin is q211's cross-multiplied integer test (d·n·marginPct
  * < S·100) over exact integer SSE — the stream lands the same
  * deterministic evidence columns the batch miner emits, so stream ≡
  * batch is spec-pinned on identical inputs.
  *
  * batch_no-partitioned dynamic-overwrite sink — the D8/D9
  * effective-exactly-once contract under foreachBatch retries.
  */
object StreamingBitext {

  /** Streaming (doc_id, embedding) JSONL drops of target-language
    * candidates.
    */
  def readDocs(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, embedding ARRAY<FLOAT>")
      .option("pathGlobFilter", "*.jsonl")
      .json(inDir)

  /** The standing source-side index: quantized coordinates exploded
    * to multi-probe bucket memberships (at scale: write partitioned
    * by `cid`).
    */
  def buildIndex(srcDocs: DataFrame, model: IvfIndex.QuantModel,
                 idCol: String = "doc_id", vecCol: String = "embedding",
                 nprobe: Int = 3): DataFrame =
    srcDocs.select(col(idCol).cast("long").as("src_id"),
      IvfIndex.quantizeExpr(col(vecCol), model.scaleBits).as("_qs"))
      .withColumn("cid", explode(model.probeExpr(col("_qs"), nprobe)))

  /** The batch-equivalent core (what the spec pins the stream
    * against): probe join + per-side pools + integer margin.
    */
  def verdicts(batch: DataFrame, index: DataFrame, model: IvfIndex.QuantModel,
               k: Int = 4, nprobe: Int = 3, marginPct: Int = 105): DataFrame = {
    graft.functions.LongSseExpressions.register(batch.sparkSession)
    val probes = batch
      .select(col("doc_id").cast("long").as("tgt_id"),
        IvfIndex.quantizeExpr(col("embedding"), model.scaleBits).as("_qt"))
      .withColumn("cid", explode(model.probeExpr(col("_qt"), nprobe)))
    // dist BEFORE the dedupe shuffle (r16, the q210/q211 fix: deduping
    // first shuffled each candidate WITH both 64-long vectors; the
    // same pair via several shared buckets recomputes the same d, so
    // the dedupe keeps an identical row whichever copy survives)
    val cand0 = probes.join(index, Seq("cid"))
      .withColumn("d", GraphAnn.intDist(col("_qt"), col("_qs")))
      .select(col("tgt_id"), col("src_id"), col("d"))
      .dropDuplicates("tgt_id", "src_id")
    graft.Exec.scoped { b =>
      val cand = b.cache(cand0)
      cand.count() // fill once before the branches race
      def pool(keyCol: String, otherCol: String, outN: String, outSum: String) =
        cand.withColumn("_r", row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col("d"), col(otherCol))))
          .filter(col("_r") <= k)
          .groupBy(col(keyCol))
          .agg(count(lit(1)).as(outN), sum(col("d")).as(outSum))
      val tgtPool = pool("tgt_id", "src_id", "_nt", "_st")
      val srcPool = pool("src_id", "tgt_id", "_ns", "_ss")
      val best = cand.withColumn("_r", row_number().over(
        Window.partitionBy(col("tgt_id")).orderBy(col("d"), col("src_id"))))
        .filter(col("_r") === 1).drop("_r")
      b.cut(best.join(tgtPool, Seq("tgt_id"))
        .join(srcPool, Seq("src_id"))
        .select(col("tgt_id"), col("src_id"), col("d").as("dist"),
          (col("_nt") + col("_ns")).as("nn_n"),
          (col("_st") + col("_ss")).as("nn_sum"),
          (col("d") * (col("_nt") + col("_ns")) * marginPct <
            (col("_st") + col("_ss")) * 100L).as("selected")))
    }
  }

  private[graft] def mineBatch(batch: DataFrame, batchId: Long, index: DataFrame,
                               model: IvfIndex.QuantModel, outDir: String,
                               k: Int, nprobe: Int, marginPct: Int): Unit = {
    if (batch.isEmpty) return
    verdicts(batch, index, model, k, nprobe, marginPct)
      .withColumn("batch_no", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_no").parquet(outDir)
  }

  /** Wire the stream: AvailableNow drains pending files and stops;
    * the checkpoint makes each file processed exactly once across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, index: DataFrame,
            model: IvfIndex.QuantModel, outDir: String, checkpointDir: String,
            k: Int = 4, nprobe: Int = 3, marginPct: Int = 105): StreamingQuery =
    readDocs(spark, inDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mineBatch(batch, batchId, index, model, outDir, k, nprobe, marginPct)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
