package graft.streaming

import graft.Tables
import graft.functions.HllAgg
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** D19 — PERSISTED per-batch HLL sketch blobs: the durable face of
  * D17's live distinct-count state. Each micro-batch appends one
  * (key, batch_id, registers) row per key to a parquet blob store —
  * 2^p bytes per key per batch, computed map-side with the SAME
  * hash/rank path the batch aggregate uses — and `readMerged` unions
  * any subset of blobs months later by elementwise register max.
  * Because HLL merge IS set union on registers (max is associative,
  * commutative, idempotent per substream), the merged sketch is
  * BIT-IDENTICAL to a single batch sketch over the union of every
  * value any contributing batch saw — across micro-batches, across
  * stream RESTARTS (a new query with a new checkpoint appends to the
  * same store and the identity still holds; replayed rows are
  * no-ops), and across however many days of blobs accumulate
  * (spec: StreamingSketchStoreSpec, two sessions with a cold restart
  * between).
  *
  * Scale shape: the blob write is a keyed map-group per micro-batch
  * (state never grows — the store is append-only parquet, compacting
  * like any date-partitioned table); the merge-on-read is one keyed
  * shuffle of 2^p-byte blobs, never of values. This is the
  * incremental-ingest counterpart of q54's persisted signature
  * index, for cardinalities instead of membership.
  */
object StreamingSketchStore {

  case class KeyedValue(key: String, value: String)
  case class SketchBlob(key: String, batch_id: Long, registers: Array[Byte])
  case class MergedSketch(key: String, registers: Array[Byte], estimate: Long, n_blobs: Long)

  /** Start a stream appending one HLL register blob per (key,
    * micro-batch) to `dir`. Restart-safe: a later query (fresh
    * checkpoint, fresh source) appending to the same `dir` composes
    * by the merge≡union identity.
    */
  def start(values: Dataset[KeyedValue], dir: String, checkpoint: String,
            p: Int = 12): StreamingQuery = {
    require(p >= 4 && p <= 16, s"p out of range [4,16]: $p")
    val spark = values.sparkSession
    import spark.implicits._
    values.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[KeyedValue], batchId: Long) =>
        batch.groupByKey(_.key).mapGroups { (k, it) =>
          val regs = new Array[Byte](1 << p)
          it.foreach(kv => HllAgg.add(regs, kv.value, p))
          SketchBlob(k, batchId, regs)
        }.write.mode("append").parquet(dir)
        ()
      }
      .start()
  }

  /** Union all persisted blobs per key (elementwise register max —
    * exact sketch algebra) and estimate. One keyed shuffle of blobs.
    */
  def readMerged(spark: SparkSession, dir: String, p: Int = 12): Dataset[MergedSketch] = {
    import spark.implicits._
    Tables.open(spark, dir).as[SketchBlob]
      .groupByKey(_.key)
      .mapGroups { (k, it) =>
        var acc: Array[Byte] = null
        var n = 0L
        it.foreach { b =>
          if (acc == null) acc = b.registers.clone()
          else {
            var j = 0
            while (j < acc.length) {
              if ((b.registers(j) & 0xff) > (acc(j) & 0xff)) acc(j) = b.registers(j)
              j += 1
            }
          }
          n += 1
        }
        MergedSketch(k, acc, HllAgg.estimate(acc, p), n)
      }
  }

  // ---- the KLL arm: persisted QUANTILE sketches (q190/B55 core) ----
  // Same store shape for ranks instead of cardinalities: one KLL blob
  // per (key, micro-batch), merged months later at blob scale. Unlike
  // HLL's union (idempotent max — bit-identical to one big sketch),
  // KLL merge is order-dependent; what the store guarantees is the
  // ε·n RANK BOUND of the merged sketch over every value any blob
  // saw (KllSpec pins it under arbitrary sharding), not bit equality.

  case class KeyedLong(key: String, value: Long)
  case class KllBlob(key: String, batch_id: Long, blob: Array[Byte])
  case class MergedQuantiles(key: String, n: Long, qs: Seq[Long], n_blobs: Long)

  /** Start a stream appending one KLL blob per (key, micro-batch). */
  def startKll(values: Dataset[KeyedLong], dir: String, checkpoint: String,
               k: Int = 200): StreamingQuery = {
    val spark = values.sparkSession
    import spark.implicits._
    values.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[KeyedLong], batchId: Long) =>
        batch.groupByKey(_.key).mapGroups { (key, it) =>
          val buf = graft.functions.KllAgg.emptyBuffer()
          it.foreach(kv => graft.functions.KllAgg.insert(buf, kv.value, k))
          KllBlob(key, batchId, graft.functions.KllAgg.write(buf))
        }.write.mode("append").parquet(dir)
        ()
      }
      .start()
  }

  /** Merge all persisted KLL blobs per key and answer the requested
    * basis-point quantiles. One keyed shuffle of blobs, never values.
    */
  def readMergedKll(spark: SparkSession, dir: String, psBp: Seq[Int],
                    k: Int = 200): Dataset[MergedQuantiles] = {
    import spark.implicits._
    Tables.open(spark, dir).as[KllBlob]
      .groupByKey(_.key)
      .mapGroups { (key, it) =>
        val acc = graft.functions.KllAgg.emptyBuffer()
        var n = 0L
        it.foreach { b =>
          graft.functions.KllAgg.mergeInto(acc, graft.functions.KllAgg.read(b.blob), k)
          n += 1
        }
        val qs = psBp.map(p =>
          if (acc.n == 0) 0L
          else graft.functions.KllAgg.valueAtRank(acc, (acc.n - 1) * p / 10000))
        MergedQuantiles(key, acc.n, qs, n)
      }
  }
}
