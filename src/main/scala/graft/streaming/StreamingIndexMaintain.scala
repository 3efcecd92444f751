package graft.streaming

import graft.Tables
import graft.functions.Stats
import graft.similarity.ProductQuantizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D38 — STREAMING INDEX MAINTENANCE (r16; the r15 verdict's task 6):
  * D31/D37 serve STANDING ANN/bitext indexes, but real crawls append
  * — this operator keeps the served IVFADC index CURRENT as new
  * vectors arrive, on the q54 persisted-index precedent (the
  * daily-ingest shape: mutate the persisted artifact incrementally,
  * never rebuild the corpus):
  *
  *  - per micro-batch, arriving vectors PQ-ENCODE under the FROZEN
  *    codebook model and land in their coarse buckets — encode is
  *    deterministic projection arithmetic, so the appended rows are
  *    byte-identical to what a full rebuild would produce, and the
  *    maintained index ≡ rebuild-from-scratch (the spec's pin);
  *  - the index directory partitions by (cid, batch_no): cid first so
  *    probe-time reads still partition-prune to nprobe buckets,
  *    batch_no second so an at-least-once foreachBatch retry
  *    dynamic-overwrites exactly its own (cid, batch_no) leaves —
  *    the D8/D9 exactly-once discipline on a bucket-partitioned
  *    artifact (plain append mode would duplicate rows on retry);
  *  - a frozen model goes STALE as the distribution shifts, so each
  *    batch's bucket occupancy is chi-square-tested against the seed
  *    corpus occupancy (the D32 categorical-drift machinery on the
  *    index's own routing statistic) and a `retrain_gate` verdict
  *    lands per batch in the monitor sink — the periodic-retrain
  *    signal an offline trainer consumes. Monitoring costs one
  *    bounded-key aggregate per tick (≤ buckets rows).
  *
  * Per-tick cost: encode is map-only over the batch; the append
  * touches only the batch's buckets; the drift test is bucket-scale.
  * The corpus is never rescanned.
  */
object StreamingIndexMaintain {

  /** Streaming (vec_id, embedding) from JSONL files under `inDir`. */
  def readVectors(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("pathGlobFilter", "*.jsonl")
      .json(inDir)

  /** Seed the maintained index from the initial corpus (batch_no = -1
    * — the pre-stream generation, never touched by a replay).
    */
  def initIndex(corpus: DataFrame, model: ProductQuantizer.Model,
                buckets: Int, indexDir: String): Unit =
    StreamingAnnServe.buildIndex(corpus, model, buckets)
      .withColumn("batch_no", lit(-1L))
      .write.mode("overwrite")
      .partitionBy("cid", "batch_no").parquet(indexDir)

  /** The served view of the maintained index (cid partition column
    * first → probe reads prune to nprobe buckets at listing time).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    Tables.open(spark, indexDir).select("vec_id", "pq_code", "cid")

  /** Seed bucket occupancy — the drift reference (≤ buckets rows;
    * compute once next to the seed index).
    */
  def seedOccupancy(corpus: DataFrame, model: ProductQuantizer.Model,
                    buckets: Int): DataFrame =
    StreamingAnnServe.buildIndex(corpus, model, buckets)
      .groupBy(col("cid").cast("string").as("c"))
      .agg(count(lit(1)).as("n"))

  /** One maintenance step; public for the spec. Appends the batch's
    * encoded rows to their (cid, batch_no) leaves and lands the
    * occupancy-drift verdict for the batch.
    */
  private[graft] def maintainBatch(batch: DataFrame, batchId: Long,
                                   model: ProductQuantizer.Model, buckets: Int,
                                   indexDir: String, monitorDir: String,
                                   refOccupancy: DataFrame, chi2Alarm: Double): Unit = {
    if (batch.isEmpty) return
    val encoded = StreamingAnnServe.buildIndex(batch, model, buckets)
      .withColumn("batch_no", lit(batchId))
    encoded.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid", "batch_no").parquet(indexDir)
    // occupancy drift vs the seed routing distribution (D32 kernel)
    val b = encoded.groupBy(col("cid").cast("string").as("c"))
      .agg(count(lit(1)).as("n"))
    val unioned =
      refOccupancy.select(col("c"), col("n"), lit(true).as("ia"))
        .unionByName(b.select(col("c"), col("n"), lit(false).as("ia")))
    Stats.chiSquareCounts(unioned, col("c"), col("n"), col("ia"))
      .withColumn("retrain_gate", col("chi2").isNotNull && col("chi2") >= chi2Alarm)
      .withColumn("batch_no", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_no").parquet(monitorDir)
  }

  /** Wire the stream: AvailableNow drains pending files and stops;
    * the checkpoint makes each file processed exactly once across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, model: ProductQuantizer.Model,
            indexDir: String, monitorDir: String, checkpointDir: String,
            refOccupancy: DataFrame, buckets: Int = 8,
            chi2Alarm: Double = 30.0): StreamingQuery =
    readVectors(spark, inDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(batch, batchId, model, buckets, indexDir, monitorDir,
          refOccupancy, chi2Alarm)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
