package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Size-adaptive partitioning for the iterative RDD operators (Hits,
  * PageRank, LabelPropagation, Hierarchy, Bfs) — guide §2.2: fewer,
  * larger partitions. These loops run `rounds × jobs-per-round` stages
  * whose per-round payload is node/frontier-scale, so their dominant
  * cost at small inputs is fixed per-task overhead (scheduling,
  * serialization, fetch setup): r18 measured q179_hits at 34 CPU
  * s/iter on a 4·10^5-edge graph — ~1 000 tasks of pure overhead.
  * Sizing the partitioner to the DATA (rows per partition) instead of
  * the scan's split count removes that waste at every scale:
  *
  *   partitions = clamp(ceil(n / rowsPerPartition), 1, raw.partitions)
  *
  * The upper clamp keeps cluster-scale behavior identical to the old
  * `raw.getNumPartitions` (a 100 TB edge list's split count stays the
  * parallelism); the lower end collapses toy inputs to a handful of
  * tasks per round. `spark.graft.graph.rowsPerPartition` (default
  * 4·10^6 rows ≈ 64 MB of (long,long) pairs with overhead) is the
  * knob — production values in OPTIMIZATION_r18.md.
  *
  * The count that sizes the partitioner doubles as the cache-fill of
  * `raw` (cached in the caller's scope) — operators that previously
  * evaluated their edge-synthesis plan once per derived RDD (Hits:
  * eSrc AND eDst) now evaluate it exactly once.
  */
object GraphPart {

  val DefaultRowsPerPartition = 4000000L

  /** Cache `raw` in `scope`, count it, and return the count with a
    * partitioner sized rows-per-partition, capped at `raw`'s own
    * partition count.
    */
  def sized[T](raw: RDD[T], scope: graft.Exec.Scope): (Long, HashPartitioner) = {
    val n = scope.cache(raw).count()
    val rowsPer = SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.graph.rowsPerPartition"))
      .map(_.toLong).getOrElse(DefaultRowsPerPartition)
    require(rowsPer >= 1, s"rowsPerPartition must be >= 1: $rowsPer")
    val byRows = math.ceil(n.toDouble / rowsPer).toLong
    val parts = math.max(1L, math.min(math.max(raw.getNumPartitions, 1).toLong, byRows)).toInt
    (n, new HashPartitioner(parts))
  }
}
