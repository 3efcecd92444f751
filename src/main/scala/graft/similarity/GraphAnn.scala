package graft.similarity

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GRAPH-based ANN serving (the HNSW family — Malkov & Yashunin,
  * TPAMI 2020) re-expressed for a distributed engine with a fully
  * DETERMINISTIC, integer-arithmetic construction (the q200/q29
  * discipline), completing the ANN suite next to brute (q28), IVF
  * (q29/q40), PQ (q114/q119/q176), sign-LSH (q33) and int8 (q200):
  *
  *  - COORDINATES quantize once to floor(x·2^scaleBits) longs
  *    ([[IvfIndex.quantizeExpr]]); every distance below is the exact
  *    integer SSE Σ(a−b)², ties broken by ascending id — no float
  *    anywhere, so the whole structure replays in any engine.
  *  - LEVELS: HNSW draws node levels from a geometric distribution;
  *    the random draw is replaced by the portable md5 fold — level =
  *    trailing base-4 zeros of md5fold(id), capped at `maxLevel`
  *    (P(level ≥ l) = 4^-l, the geometric shape, hash-derived).
  *    Top-level nodes are the ENTRY SET: expected n/4^maxLevel rows,
  *    sized to stay broadcastable by choosing maxLevel ~ log4(n/B)
  *    at corpus scale.
  *  - NEIGHBOR LISTS: HNSW's sequential insert-time graph becomes a
  *    bucketed kNN graph — candidates are pairs sharing an IVF
  *    bucket of the integer-moments coarse quantizer
  *    ([[IvfIndex.trainCentroidsQuantized]]), per-node top-`degree`
  *    by (distance, id). NEVER all-pairs: the bucket join bounds
  *    candidates the way LSH banding bounds q25.
  *  - SEARCH: beam search from the entry set — `rounds` expansion
  *    steps, each joining the current beam against the adjacency
  *    table, keeping the top-`beam` of everything VISITED per query
  *    (monotone frontier: the visited set only grows, so the search
  *    is order-free and replayable round by round). The final top-k
  *    answers come from the visited set.
  *
  * Scale shape: the graph build is one bucket-keyed self-join + one
  * per-node top-k window over bucket-bounded candidates; serving
  * joins a (queries × beam)-sized frontier against the node-keyed
  * adjacency table each round — broadcast-sized left side, partition-
  * prunable right side when the adjacency is persisted bucketed by
  * node.
  */
object GraphAnn {

  /** Corpus-scaled knobs (r16; the r15 verdict's recall-decay task):
    * fixed knobs lose recall as the corpus grows (measured 0.95 →
    * 0.75 from 500 to 2000 vectors at degree 10 / beam 8 / 4 rounds),
    * because graph diameter and bucket occupancy grow with n while
    * the beam's reach stays constant. These staircase formulas grow
    * every knob with ⌊log2 n⌋ — the HNSW scaling (M ~ log n edges,
    * ~log n greedy hops) in exact integer arithmetic both engines
    * reproduce (JVM: numberOfLeadingZeros; DuckDB: bit length of
    * printf('%b', n)):
    *
    *   fl2      = ⌊log2 n⌋
    *   degree   = max(10, fl2 + 6)        // kNN edges per node
    *   beam     = max(8, fl2 + 6)         // frontier width
    *   rounds   = max(4, ⌈fl2/2⌉ + 1)     // ≈ ⌈log4 n⌉ + 1 hops
    *   maxLevel = clamp(⌊(fl2−4)/2⌋, 1, 15) // entry set ≈ n/4^ml ∈ [16,64)
    *   entryBeam = 3
    *
    * Measured at these values (r16 sweep, PLANS.md q210): recall@5 = 1.000 at
    * n = 2000 (degree 16 / beam 16 / 6 rounds) vs 0.75 at the old
    * fixed knobs; the entry set stays a few dozen rows however large
    * n grows, preserving broadcastability.
    */
  final case class Knobs(n: Long, maxLevel: Int, degree: Int, beam: Int,
                         rounds: Int, entryBeam: Int)
  def scaledKnobs(n: Long): Knobs = {
    require(n > 0, s"corpus size must be positive: $n")
    val fl2 = 63 - java.lang.Long.numberOfLeadingZeros(n)
    Knobs(
      n = n,
      maxLevel = math.min(15, math.max(1, (fl2 - 4) / 2)),
      degree = math.max(10, fl2 + 6),
      beam = math.max(8, fl2 + 6),
      rounds = math.max(4, (fl2 + 1) / 2 + 1),
      entryBeam = 3)
  }

  /** Node level: trailing base-4 zeros of the md5 fold of the id,
    * capped at `maxLevel` — the geometric level draw of HNSW with the
    * randomness replaced by the engine-portable hash every sampling
    * operator here uses (conv of the first 8 md5 hex chars).
    */
  def levelExpr(id: Column, maxLevel: Int): Column = {
    require(maxLevel >= 1 && maxLevel <= 15, s"maxLevel in [1,15]: $maxLevel")
    val h = conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")
    (1 to maxLevel).foldLeft(lit(0)) { (acc, l) =>
      when(pmod(h, lit(math.pow(4.0, l).toLong)) === 0L, lit(l)).otherwise(acc)
    }
  }

  /** Exact integer SSE between two quantized vectors (arrays of
    * long), the one distance the whole module uses — the NATIVE
    * codegen kernel (r15: the zip_with+aggregate HOF pair evaluated
    * interpreted per element; at candidate-join volume that
    * interpretation dominated q210's cost ~5×). Callers must
    * register via [[graft.functions.LongSseExpressions.register]] —
    * done here lazily on first Column construction.
    */
  def intDist(a: Column, b: Column): Column =
    graft.functions.LongSseExpressions.longSse(a, b)

  /** The bucketed kNN adjacency table: (src, dst, dist) with at most
    * `degree` rows per src — candidates share one of each node's
    * `nprobe` nearest IVF buckets of `model` (MULTI-PROBE membership:
    * single-bucket candidate graphs are DISCONNECTED across bucket
    * boundaries, which strands beam search in the entry's bucket —
    * measured 0.15 recall@5; 3-probe membership links adjacent
    * clusters and lifts the same search to 0.75-0.95); per-src
    * ranking by (dist, dst), self-pairs excluded. Output is the
    * persistable artifact (node-keyed; bucket it by src for pruned
    * serving reads). Candidate count stays bucket-bounded: nprobe×
    * membership over the same bucket count — never all-pairs.
    */
  def knnGraph(vectors: DataFrame, model: IvfIndex.QuantModel,
               idCol: String = "vec_id", vecCol: String = "embedding",
               degree: Int = 10, nprobe: Int = 3): DataFrame = {
    graft.functions.LongSseExpressions.register(vectors.sparkSession)
    val q = IvfIndex.quantizeExpr(col(vecCol), model.scaleBits)
    val nodes = vectors.select(col(idCol).cast("long").as("_id"), q.as("_q"))
      .withColumn("_cid", explode(model.probeExpr(col("_q"), nprobe)))
    val a = nodes.select(col("_cid"), col("_id").as("src"), col("_q").as("_qa"))
    val b = nodes.select(col("_cid"), col("_id").as("dst"), col("_q").as("_qb"))
    val w = Window.partitionBy(col("src")).orderBy(col("dist"), col("dst"))
    // dist BEFORE the dedupe shuffle (r16): dropDuplicates used to run
    // first, shuffling every candidate pair WITH both quantized
    // vectors attached (~1.1 KB/row — measured ~5 GB at a 4.5M-pair
    // toy corpus, the dominant q210 cost). Computing the SSE map-side
    // and shuffling only (src, dst, dist) shrinks the dedupe + window
    // shuffles ~40×; a pair seen via several shared buckets recomputes
    // the same dist, so the dedupe keeps an identical row whichever
    // copy survives.
    a.join(b, Seq("_cid"))
      .filter(col("src") =!= col("dst"))
      .withColumn("dist", intDist(col("_qa"), col("_qb")))
      .select(col("src"), col("dst"), col("dist"))
      .dropDuplicates("src", "dst") // a pair can share several buckets
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= degree)
      .select(col("src"), col("dst"), col("dist"))
  }

  /** Persist a built graph index — the build-offline / serve-later
    * layout (IvfIndex.save's precedent for the graph tier): the
    * adjacency partitions by a src-derived bucket so a serving
    * frontier fetch can prune to its buckets at listing time, node
    * vectors partition by the same bucketing of the id, and the
    * knobs + scale ride a one-row metadata table so the serving side
    * needs no re-derivation (and no count).
    */
  def save(nodes: DataFrame, edges: DataFrame, knobs: Knobs, scaleBits: Int,
           dir: String, srcBuckets: Int = 64,
           idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = nodes.sparkSession
    import spark.implicits._
    Seq((knobs.n, knobs.maxLevel, knobs.degree, knobs.beam, knobs.rounds,
      knobs.entryBeam, scaleBits, srcBuckets))
      .toDF("n", "max_level", "degree", "beam", "rounds", "entry_beam",
        "scale_bits", "src_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // batch_no = -1 marks the build generation; D40 incremental
    // appends land under their own batch_no leaves (bucket stays the
    // FIRST partition level so frontier fetches prune regardless)
    edges.withColumn("bucket", pmod(col("src"), lit(srcBuckets.toLong)))
      .withColumn("batch_no", lit(-1L))
      .write.mode("overwrite").partitionBy("bucket", "batch_no").parquet(s"$dir/edges")
    nodes.select(col(idCol), col(vecCol))
      .withColumn("bucket", pmod(col(idCol).cast("long"), lit(srcBuckets.toLong)))
      .withColumn("batch_no", lit(-1L))
      .write.mode("overwrite").partitionBy("bucket", "batch_no").parquet(s"$dir/nodes")
  }

  /** Restore a saved index: (nodes, edges, knobs, scaleBits) ready to
    * hand to [[search]] — outputs are bit-identical to searching the
    * pre-save frames.
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String)
  : (DataFrame, DataFrame, Knobs, Int) = {
    val m = Tables.open(spark, s"$dir/meta").collect()
    require(m.nonEmpty, s"no graph-ANN metadata at $dir/meta")
    val r = m.head
    val knobs = Knobs(r.getAs[Long]("n"), r.getAs[Int]("max_level"),
      r.getAs[Int]("degree"), r.getAs[Int]("beam"), r.getAs[Int]("rounds"),
      r.getAs[Int]("entry_beam"))
    (Tables.open(spark, s"$dir/nodes").drop("bucket", "batch_no"),
      Tables.open(spark, s"$dir/edges").drop("bucket", "batch_no"),
      knobs, r.getAs[Int]("scale_bits"))
  }

  /** Serve queries from a saved index directory — load + search with
    * the persisted knobs.
    */
  def searchSaved(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, k: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  qidCol: String = "query_id"): DataFrame = {
    val (nodes, edges, kn, scaleBits) = load(spark, dir)
    search(nodes, edges, queries, kn.maxLevel, scaleBits, k,
      kn.beam, kn.rounds, kn.entryBeam, idCol, vecCol, qidCol, kn.n)
  }

  /** Exact integer SSE between two quantized vectors — the JVM twin
    * of [[intDist]], used by the RDD search core. Must stay
    * arithmetic-identical to the codegen kernel.
    */
  private def sseJvm(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var s = 0L
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** JVM twin of [[levelExpr]]'s entry test: true iff the md5 fold of
    * the id has ≥ maxLevel trailing base-4 zeros (level == maxLevel
    * under the cap). Fold = first 8 md5 hex chars of id.toString as
    * an unsigned 32-bit value — identical to conv(substring(md5(x),
    * 1, 8), 16, 10).
    */
  private[similarity] def entryLevelHit(id: Long, maxLevel: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fold = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    fold % (1L << (2 * maxLevel)) == 0L
  }

  /** Beam search over a prebuilt adjacency table. `queries` carries
    * (qidCol, vecCol); `nodes` is the corpus (idCol, vecCol); output
    * is (query_id, rk, vec_id, idist) — the top-k of the visited set
    * after `rounds` expansions from the top-`entryBeam` entry nodes.
    * All-integer, id tie-breaks — deterministic by construction.
    *
    * r16: the round loop runs on CO-PARTITIONED RDDs behind the
    * DataFrame API (the q101/q117 adjudication — a Catalyst round
    * pays a full replan + codegen compile + AQE stage
    * materialization of fixed driver cost; at 4-6 rounds that fixed
    * cost dominated the whole query at toy scale, and scaled knobs
    * grow rounds with log n). Layout: node vectors and the adjacency
    * hash-partition ONCE by node id and persist; per-query state —
    * the query vector plus its visited (dist, node) set, both
    * bounded by entryBeam + rounds·beam·degree rows — partitions by
    * query id. Each round is two query-scale shuffles (frontier to
    * the node layout, scored candidates back to the query layout)
    * and narrow joins against the persisted node-keyed tables; the
    * corpus is never rescanned and nothing corpus-scale moves.
    * Only the ENTRY SET (expected n/4^maxLevel — a few dozen rows
    * under scaledKnobs) is collected and broadcast.
    */
  def search(nodes: DataFrame, edges: DataFrame, queries: DataFrame,
             maxLevel: Int, scaleBits: Int,
             k: Int = 5, beam: Int = 8, rounds: Int = 4, entryBeam: Int = 3,
             idCol: String = "vec_id", vecCol: String = "embedding",
             qidCol: String = "query_id", nHint: Long = -1L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val qv = queries.select(col(qidCol).cast("long"),
      IvfIndex.quantizeExpr(col(vecCol), scaleBits)).rdd
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val nv = nodes.select(col(idCol).cast("long"),
      IvfIndex.quantizeExpr(col(vecCol), scaleBits)).rdd
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // partition count PROPORTIONAL to data volume (~60k quantized
    // vectors ≈ 32 MB per partition), capped at the upstream layout:
    // every beam round launches ~3 stages per shuffle tier, and a
    // fixed-32-task stage on 8-query state paid ~150 ms of pure task
    // overhead per stage at toy scale (measured: 6 rounds ≈ 4.6 s of
    // which almost all was scheduling). At corpus scale the cap keeps
    // the upstream parallelism.
    val n = if (nHint > 0) nHint else nv.count()
    val nParts = math.max(1, math.min(
      math.max(nv.getNumPartitions, spark.sparkContext.defaultParallelism),
      ((n + 59999L) / 60000L).toInt))
    val nPart = new org.apache.spark.HashPartitioner(nParts)
    graft.Exec.scoped { sc =>
      val nvP = sc.cache(nv.partitionBy(nPart))
      val adj = sc.cache(edges.select(col("src").cast("long"), col("dst").cast("long")).rdd
        .map(r => (r.getLong(0), r.getLong(1)))
        .aggregateByKey(new scala.collection.mutable.ArrayBuffer[Long], nPart)(
          (b, d) => { b += d; b }, (a, b) => { a ++= b; a })
        .mapValues(_.toArray))
      // entry tier: the level == maxLevel nodes (expected n/4^maxLevel —
      // the broadcastable top of the hierarchy), sorted for determinism
      val entries = nvP.filter { case (id, _) => entryLevelHit(id, maxLevel) }
        .collect().sortBy(_._1)
      val entriesB = spark.sparkContext.broadcast(entries)
      // query-side state is (entryBeam + rounds·beam·degree) rows per
      // query — scale its layout with the corpus layout (queries are
      // ≤ corpus by contract; a caller with a huge query set passes
      // pre-partitioned queries and the cap keeps that parallelism)
      val qPart = new org.apache.spark.HashPartitioner(
        math.max(1, math.min(math.max(qv.getNumPartitions, 1), nParts)))
      // per-query state: (query vector, visited (dist, nid) sorted asc)
      var visited: org.apache.spark.rdd.RDD[(Long, (Array[Long], Array[(Long, Long)]))] =
        sc.cache(qv.partitionBy(qPart).mapValues { qvec =>
          val top = entriesB.value
            .map { case (nid, nvec) => (sseJvm(qvec, nvec), nid) }
            .sorted.take(entryBeam)
          (qvec, top)
        })
      var r = 0
      while (r < rounds) {
        val front = visited.flatMap { case (qid, (_, arr)) =>
          arr.iterator.take(beam).map { case (_, nid) => (nid, qid) } }
        val cand = front.partitionBy(nPart)
          .join(adj) // narrow: both on nPart
          .flatMap { case (_, (qid, dsts)) => dsts.iterator.map(d => (d, qid)) }
          .partitionBy(nPart)
          .mapPartitions({ it =>
            // global (dst, qid) dedupe: keyed by dst, so equal pairs
            // land in one partition — dedupe before the vector fetch
            val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
            it.filter(seen.add)
          }, preservesPartitioning = true)
          .join(nvP) // narrow: (dst, (qid, nvec))
          .map { case (nid, (qid, nvec)) => (qid, (nid, nvec)) }
        visited = sc.cache(visited.cogroup(cand, qPart).flatMap { case (qid, (oldIt, newIt)) =>
          oldIt.headOption.map { case (qvec, arr) =>
            val m = scala.collection.mutable.LongMap.empty[Long] // nid -> d
            arr.foreach { case (d, nid) => m(nid) = d }
            newIt.foreach { case (nid, nvec) =>
              if (!m.contains(nid)) m(nid) = sseJvm(qvec, nvec) }
            (qid, (qvec, m.iterator.map { case (nid, d) => (d, nid) }.toArray.sorted))
          }
        })
        r += 1
      }
      val out = visited.flatMap { case (qid, (_, arr)) =>
        arr.iterator.take(k).zipWithIndex.map { case ((d, nid), i) =>
          (qid, (i + 1).toLong, nid, d) } }
      // eager k×queries result; the scope frees every round's cache
      val result = sc.cut(spark.createDataset(out).toDF(qidCol, "rk", idCol, "idist"))
      entriesB.destroy()
      result
    }
  }
}
