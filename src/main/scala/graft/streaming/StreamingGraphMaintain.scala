package graft.streaming

import graft.Tables
import graft.similarity.GraphAnn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D40 — STREAMING GRAPH-INDEX MAINTENANCE (r16): the D38 idea (the
  * served index must follow the crawl) applied to the GRAPH tier,
  * where incremental insert is genuinely harder than PQ append — a
  * new vector is only REACHABLE if some existing node points at it.
  * Per micro-batch, the HNSW insertion rule re-expressed for a
  * persisted distributed index:
  *
  *  - each arriving vector beam-searches the CURRENT index (the
  *    exact serving search, batch-as-queries) and its top-`degree`
  *    visited nodes become its out-edges — the published insert
  *    heuristic (Malkov & Yashunin §4, "select neighbors from the
  *    candidates found by search");
  *  - the REVERSE edges (neighbor → new node) land too: without
  *    them the entry-set walk can never leave the old node set and
  *    appended vectors would be unreachable (levels are hash-derived
  *    from the id, so a new node whose level hits the cap joins the
  *    entry tier automatically on the next search — the nodes table
  *    is the level source);
  *  - the maintenance read EXCLUDES generations ≥ the current
  *    batch_no (partition-level filter), so an at-least-once retry
  *    recomputes from exactly the pre-batch state and its dynamic
  *    overwrite lands byte-identical leaves — CONTENT-idempotent,
  *    not merely count-idempotent;
  *  - reverse edges make touched neighbors' degrees grow past the
  *    build-time cap — the monitored drift statistic. Each batch
  *    lands a monitor row (new nodes/edges, max touched degree,
  *    overflow fraction vs 2× the build degree) with a
  *    `rebuild_gate` verdict: the signal to re-run the offline
  *    kNN-graph build, the D38 retrain-gate analog. Degree probing
  *    is bucket-pruned to the touched buckets — batch-scale.
  *
  * Per-tick cost, honestly: the insertion search reads the CURRENT
  * index (nodes + adjacency) — unlike D38's append, that read is
  * index-scale, because each batch's edges depend on every prior
  * generation (the search must see them; caching across ticks would
  * serve a stale graph). That is inherent to graph insert, not to
  * this implementation — production HNSW maintainers keep the graph
  * resident in memory for the same reason; here the re-read is the
  * price of a restart-safe on-disk index, and batches should be
  * sized accordingly (minutes of arrivals per tick, not seconds).
  */
object StreamingGraphMaintain {

  /** Streaming (vec_id, embedding) from JSONL files under `inDir`. */
  def readVectors(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("pathGlobFilter", "*.jsonl")
      .json(inDir)

  /** One maintenance step; public for the spec. */
  private[graft] def maintainBatch(batch: DataFrame, batchId: Long,
                                   indexDir: String, monitorDir: String,
                                   overflowAlarm: Double): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val meta = Tables.open(spark, s"$indexDir/meta").collect().head
    // a rebuild FOLDS every generation ≤ its trigger batch into the new
    // build generation and stamps the meta; replaying such a batch
    // (at-least-once restart across the swap) must be a no-op — its
    // content is already in the rebuilt index, and the pre-batch leaves
    // it would recompute from no longer exist
    val rebuiltAt =
      if (meta.schema.fieldNames.contains("rebuilt_at_batch"))
        meta.getAs[Long]("rebuilt_at_batch") else -1L
    if (batchId <= rebuiltAt) return
    val kn = GraphAnn.Knobs(meta.getAs[Long]("n"), meta.getAs[Int]("max_level"),
      meta.getAs[Int]("degree"), meta.getAs[Int]("beam"), meta.getAs[Int]("rounds"),
      meta.getAs[Int]("entry_beam"))
    val scaleBits = meta.getAs[Int]("scale_bits")
    val srcBuckets = meta.getAs[Int]("src_buckets").toLong
    // pre-batch view: generations strictly BEFORE this batch, so a
    // retry sees exactly what the first attempt saw
    val nodes = Tables.open(spark, s"$indexDir/nodes")
      .where(col("batch_no") < batchId).drop("bucket", "batch_no")
    val edges = Tables.open(spark, s"$indexDir/edges")
      .where(col("batch_no") < batchId).drop("bucket", "batch_no")
    val queries = batch.select(col("vec_id").as("query_id"), col("embedding"))
    val found = GraphAnn.search(nodes, edges, queries,
        kn.maxLevel, scaleBits, k = kn.degree,
        kn.beam, kn.rounds, kn.entryBeam, nHint = kn.n)
      .filter(col("query_id") =!= col("vec_id")) // no self-edges on retry overlap
    val fwd = found.select(col("query_id").as("src"), col("vec_id").as("dst"),
      col("idist").as("dist"))
    val rev = found.select(col("vec_id").as("src"), col("query_id").as("dst"),
      col("idist").as("dist"))
    // the search result reads the search's own cut, which no scope
    // here owns: free it once the batch has landed
    val gate = try graft.Exec.scoped { b =>
      val newEdges = b.cache(fwd.unionByName(rev)
        .withColumn("bucket", pmod(col("src"), lit(srcBuckets)))
        .withColumn("batch_no", lit(batchId)))
      newEdges.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "batch_no").parquet(s"$indexDir/edges")
      batch.select(col("vec_id"), col("embedding"))
        .withColumn("bucket", pmod(col("vec_id"), lit(srcBuckets)))
        .withColumn("batch_no", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "batch_no").parquet(s"$indexDir/nodes")
      // drift monitor over the TOUCHED reverse-edge sources only —
      // their buckets prune the degree probe to batch scale
      val touched = rev.select(col("src")).distinct()
        .withColumn("bucket", pmod(col("src"), lit(srcBuckets)))
      val touchedBuckets = touched.select("bucket").distinct()
        .collect().map(_.getLong(0))
      val degrees = Tables.open(spark, s"$indexDir/edges")
        .where(col("bucket").isin(touchedBuckets.toIndexedSeq: _*) &&
          col("batch_no") <= batchId)
        .join(touched.select(col("src")), Seq("src"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
      val cap = 2L * kn.degree
      // one-row stats collected driver-side so a batch with NO reverse
      // edges (empty entry tier, no adjacency hits) coalesces to
      // overflow 0 / gate false instead of writing NULLs (0/0 and
      // max-over-empty) that NPE downstream readers
      val st = degrees.agg(
          count(lit(1)).as("n_touched"),
          max(col("deg")).as("max_degree_touched"),
          (sum(when(col("deg") > cap, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("overflow_frac"))
        .collect().head
      val nTouched = st.getAs[Long]("n_touched")
      val maxDeg = if (nTouched == 0L) 0L else st.getAs[Long]("max_degree_touched")
      val overflow = if (nTouched == 0L) 0.0 else st.getAs[Double]("overflow_frac")
      // growth gate: steady scattered appends erode recall without ever
      // overflowing a degree (the knobs were scaled for the BUILD n) —
      // rebuild when the maintained set reaches 2× the build size
      val nTotal = Tables.open(spark, s"$indexDir/nodes")
        .where(col("batch_no") <= batchId).count()
      val gate = overflow > overflowAlarm || nTotal >= 2L * kn.n
      import spark.implicits._
      Seq((nTouched, maxDeg, overflow, batch.count(), newEdges.count(), cap,
          nTotal, gate, batchId))
        .toDF("n_touched", "max_degree_touched", "overflow_frac",
          "n_new_nodes", "n_new_edges", "degree_cap",
          "n_total_nodes", "rebuild_gate", "batch_no")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_no").parquet(monitorDir)
      gate
    } finally graft.Exec.free(found)
    // the gate doesn't just signal any more (r17; r16 verdict task
    // 4): it EXECUTES the rebuild — offline build over the full
    // maintained node set, staged then swapped
    if (gate) rebuild(spark, indexDir, batchId)
  }

  /** Centroid count for a rebuild: √n clamped to [4, 64] — the IVF
    * bucket staircase at maintenance scale (deterministic, so a spec's
    * fresh offline build with the same rule is bit-comparable).
    */
  private[graft] def rebuildCentroids(n: Long): Int =
    math.max(4, math.min(64, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** REBUILD-AND-SWAP (r17): re-run the offline GraphAnn build over
    * the full maintained node set — centroids retrained, knobs
    * REFRESHED from the current count (the recall-decay fix: scaled
    * knobs only help if somebody re-scales them as the index grows) —
    * staged under `indexDir/_rebuild`, then moved into place with
    * directory renames (stage → swap, the TxLog commit discipline: a
    * crash before the swap leaves the live index untouched; serving
    * reads see the old or the new complete index, never a mix). The
    * rebuilt meta records `rebuilt_at_batch` so an at-least-once
    * replay of any folded batch is skipped (its content is already in
    * the build generation).
    */
  private[graft] def rebuild(spark: SparkSession, indexDir: String,
                             batchId: Long, nprobe: Int = 3): Unit = {
    import graft.similarity.IvfIndex
    graft.Exec.scoped { b =>
      val all = b.cache(Tables.open(spark, s"$indexDir/nodes")
        .where(col("batch_no") <= batchId).drop("bucket", "batch_no"))
      val srcBuckets = Tables.open(spark, s"$indexDir/meta")
        .collect().head.getAs[Int]("src_buckets")
      val n = all.count()
      val dim = all.select(size(col("embedding"))).head.getInt(0)
      val model = IvfIndex.trainCentroidsQuantized(all, dim = dim,
        nCentroids = rebuildCentroids(n))
      val kn = GraphAnn.scaledKnobs(n)
      val edges = GraphAnn.knnGraph(all, model, degree = kn.degree, nprobe = nprobe)
      val stage = s"$indexDir/_rebuild"
      GraphAnn.save(all, edges, kn, model.scaleBits, stage, srcBuckets = srcBuckets)
      // stamp the fold point into the staged meta (meta2 → rename: the
      // meta dir is never half-written)
      val stamped = Tables.open(spark, s"$stage/meta")
        .withColumn("rebuilt_at_batch", lit(batchId))
      stamped.coalesce(1).write.mode("overwrite").parquet(s"$stage/meta2")
      deleteTree(java.nio.file.Paths.get(stage, "meta"))
      java.nio.file.Files.move(java.nio.file.Paths.get(stage, "meta2"),
        java.nio.file.Paths.get(stage, "meta"))
      swapInPlace(indexDir, stage)
    }
  }

  /** Move the live index tiers aside, the staged tiers into place,
    * then drop the old generation — directory renames only (no
    * file-by-file copying; on one filesystem each move is atomic).
    */
  private def swapInPlace(indexDir: String, stage: String): Unit = {
    import java.nio.file.{Files, Paths}
    val old = Paths.get(indexDir, "_old")
    Files.createDirectories(old)
    Seq("meta", "nodes", "edges").foreach { t =>
      val live = Paths.get(indexDir, t)
      if (Files.exists(live)) { Files.move(live, old.resolve(t)); () }
      Files.move(Paths.get(stage, t), live); ()
    }
    deleteTree(old)
    deleteTree(Paths.get(stage))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { java.nio.file.Files.delete(q); () })
      finally s.close()
    }

  /** Wire the stream: AvailableNow drains pending files and stops;
    * the checkpoint makes each file processed exactly once across
    * restarts.
    */
  def start(spark: SparkSession, inDir: String, indexDir: String,
            monitorDir: String, checkpointDir: String,
            overflowAlarm: Double = 0.2): StreamingQuery =
    readVectors(spark, inDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(batch, batchId, indexDir, monitorDir, overflowAlarm)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
