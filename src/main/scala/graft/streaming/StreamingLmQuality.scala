package graft.streaming

import graft.functions.LmQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D28 — streaming LM QUALITY GATE: the CCNet deployment shape of
  * q164. The Kneser-Ney model trains ONCE in batch on the clean
  * corpus (`LmQuality.trainModel`, its bigram table an eager cut —
  * the Wikipedia side); documents arriving on a file stream are scored
  * per micro-batch against that static model and land as
  * (doc_id, n_pairs, n_seen, n_oov_ctx, mean_p, bucket) verdicts —
  * incoming crawl data is quality-bucketed BEFORE it enters the
  * training corpus, instead of re-scoring the whole corpus after the
  * fact (the same in-flight-vs-after contract as D9 decontamination).
  *
  * Per-micro-batch work: one pair explode over the DELTA only +
  * token-keyed joins to the static model tables (stream-static joins,
  * vocabulary never broadcast) + one per-doc regroup. The verdict
  * sink is batch_no-partitioned with dynamic overwrite, so
  * foreachBatch's at-least-once retries rewrite exactly their own
  * partition — effective exactly-once, the D8/D9 contract. Unseen
  * bigrams back off and OOV contexts score 0.0 with an `n_oov_ctx`
  * count, which — unlike the in-domain batch q164 — is LIVE here:
  * crawl text routinely contains vocabulary the clean corpus lacks.
  */
object StreamingLmQuality {

  /** Streaming (doc_id, text) from JSONL files dropped under `inDir`. */
  def readDocs(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("pathGlobFilter", "*.jsonl")
      .json(inDir)

  /** One scoring step; public for the spec. */
  private[graft] def scoreBatch(batch: DataFrame, batchId: Long, model: LmQuality.Model,
                                verdictDir: String, t1: Double, t2: Double): Unit = {
    if (batch.isEmpty) return
    LmQuality.scoreWith(model, batch)
      .withColumn("bucket", LmQuality.bucketExpr(col("mean_p"), t1, t2))
      .withColumn("batch_no", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_no").parquet(verdictDir)
  }

  /** Wire the stream: AvailableNow drains pending files and stops;
    * the checkpoint makes each file processed exactly once across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, model: LmQuality.Model,
            verdictDir: String, checkpointDir: String,
            t1: Double, t2: Double): StreamingQuery =
    readDocs(spark, inDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch, batchId, model, verdictDir, t1, t2)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
