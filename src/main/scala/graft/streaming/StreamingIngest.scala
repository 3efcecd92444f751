package graft.streaming

import graft.Tables
import graft.dedup.{IncrementalDedup, MinHashLsh}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D8 — the INCREMENTAL-INGEST loop as a stream: new document files
  * landing in a watched directory are near-dup-checked against the
  * persisted corpus MinHash index per micro-batch, verdicts appended
  * to a verdict table, and the signatures of accepted (novel) docs
  * appended to the index — so the next micro-batch already dedups
  * against them. This is the daily-ingest shape the batch q54 models,
  * run continuously (the reference re-processes whole directories per
  * Dagster run: process_menu.py:1; here the delta is matched against
  * the index and the corpus text is never re-read).
  *
  * Both sinks are partitioned by `batch_no` and written with DYNAMIC
  * partition overwrite, and each batch reads the index EXCLUDING its
  * own partition (`batch_no < batchId`, a partition-pruned filter).
  * Together these make the foreachBatch body idempotent: a micro-batch
  * retry (foreachBatch is at-least-once on failure) sees exactly the
  * pre-batch index even if the failed attempt already appended
  * signatures, recomputes the same verdicts, and rewrites exactly its
  * own partitions. That turns the at-least-once retry contract into
  * effective exactly-once for both the verdict table and the index.
  *
  * Scale: per micro-batch work is the q54 plan — map-side signature
  * pass over the delta only, batch self-dedup (delta × delta LSH,
  * min-id keeper) so same-batch duplicates yield one novel verdict,
  * then LSH band join vs the index (band hashes + ids only, never
  * text), exact-Jaccard verify on candidates. Index
  * reads prune nothing today because signatures are ~300 B/doc; at
  * 100 TB corpus the index is still only ~GBs and the band join
  * shuffles the delta side, not the corpus.
  */
object StreamingIngest {

  /** Streaming (doc_id, text) from JSONL files dropped under `inDir`. */
  def readDocs(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("pathGlobFilter", "*.jsonl")
      .json(inDir)

  /** Seed the index directory from the existing corpus (batch_no=-1
    * partition). All later writes append batch_no=N partitions, so the
    * directory layout stays uniform for partition discovery.
    */
  def initIndex(corpus: DataFrame, indexDir: String,
                idCol: String = "doc_id", textCol: String = "text",
                cfg: MinHashLsh.Config = MinHashLsh.Config()): Unit =
    IncrementalDedup.buildIndex(corpus, idCol, textCol, cfg)
      .withColumn("batch_no", lit(-1L))
      .write.partitionBy("batch_no").parquet(indexDir)

  /** One ingest step; public for the spec's idempotence assertion. */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                                 indexDir: String, verdictDir: String,
                                 threshold: Double, cfg: MinHashLsh.Config): Unit = {
    if (batch.isEmpty) return
    // exclude this batch's own partition: on a retry the previous
    // attempt may already have appended this batch's signatures, and
    // docs must not match themselves
    val index = Tables.open(spark, indexDir)
      .filter(col("batch_no") < batchId).drop("batch_no")
    // batch SELF-dedup first (min-id keeper): identical docs arriving
    // in one micro-batch must produce one novel verdict, not two —
    // the flagged docs skip the index check and never enter the index
    val self = IncrementalDedup
      .selfDuplicates(batch, threshold = threshold, cfg = cfg)
    val keepers = batch.join(self.select("doc_id"), Seq("doc_id"), "left_anti")
    graft.Exec.scoped { b =>
      val verdicts = b.cache(IncrementalDedup
        .dedupBatch(index, keepers, threshold = threshold, cfg = cfg)
        .unionByName(self))
      verdicts.count() // materialize once: both writes below read it
      verdicts.withColumn("batch_no", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_no").parquet(verdictDir)
      val accepted = batch.join(
        verdicts.filter(col("is_novel")).select("doc_id"), Seq("doc_id"), "left_semi")
      MinHashLsh.signatures(accepted, "doc_id", "text", cfg)
        .withColumn("batch_no", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_no").parquet(indexDir)
    }
  }

  /** Wire the loop: each micro-batch of new docs is dedup-verdicted
    * against the current index, then the index advances. AvailableNow
    * drains all pending files and stops (the scheduled-run shape);
    * checkpointing makes each file processed exactly once across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, indexDir: String,
            verdictDir: String, checkpointDir: String,
            threshold: Double = 0.8,
            cfg: MinHashLsh.Config = MinHashLsh.Config()): StreamingQuery =
    readDocs(spark, inDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, batchId, indexDir, verdictDir, threshold, cfg)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
