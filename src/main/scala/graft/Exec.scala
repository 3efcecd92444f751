package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.storage.StorageLevel

/** The one materialization boundary: every cache, lineage cut and
  * free in graft goes through an [[Exec.Scope]].
  *
  * The rule, applied to every cut: with `sparkContext.setCheckpointDir`
  * set (any cluster job should point it at durable storage), a cut is
  * a RELIABLE checkpoint — files under the dir, recovered after
  * executor loss by re-reading them. Without one it is a local
  * checkpoint, which truncates lineage with blocks only in executor
  * storage: fine in local mode (no executor to lose), unrecoverable
  * after executor loss on a cluster.
  *
  * Freeing is the scope's job, never the call site's: on exit, normal
  * or by exception, the scope frees every cache and cut that the
  * returned value does not read (`Dataset.unpersist` alone is a silent
  * no-op for checkpoint blocks — they live on the RDD inside the
  * plan's LogicalRDD leaf). What the result does read outlives the
  * scope; a caller that later drops such a result frees it with
  * [[Exec.free]].
  */
object Exec {

  /** One scope per thread: it is not synchronized. */
  final class Scope private[Exec] () {
    private val rdds = mutable.ArrayBuffer.empty[RDD[_]]
    private val frames = mutable.ArrayBuffer.empty[DataFrame]

    /** EAGER lineage cut: `df` is computed now, and the returned frame
      * reads the checkpoint.
      */
    def cut(df: DataFrame): DataFrame = {
      val c = if (reliable(df.sparkSession.sparkContext)) df.checkpoint(true)
        else df.localCheckpoint(true)
      rdds ++= planRdds(c.queryExecution.analyzed)
      c
    }

    /** LAZY lineage cut: marks `rdd`, which is truncated by the next
      * SYNCHRONOUS action that computes it (`SparkContext.runJob` runs
      * `doCheckpoint`; `submitJob`/`countAsync` do not).
      */
    def cut[T](rdd: RDD[T]): RDD[T] = {
      if (reliable(rdd.sparkContext)) {
        // the checkpoint write job reads the cached blocks instead of
        // recomputing the round
        if (rdd.getStorageLevel == StorageLevel.NONE) rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint()
      own(rdd)
    }

    /** Lazy cache (no lineage cut); filled by the first action over it. */
    def cache(df: DataFrame): DataFrame = {
      frames += df.persist()
      df
    }

    /** Lazy MEMORY_AND_DISK cache (no lineage cut). */
    def cache[T](rdd: RDD[T]): RDD[T] = own(rdd.persist(StorageLevel.MEMORY_AND_DISK))

    private def own[T](rdd: RDD[T]): RDD[T] = { rdds += rdd; rdd }

    /** A failure to trace the result frees nothing: a leak, never a
      * result reading freed blocks.
      */
    private[Exec] def close(result: Option[Any]): Unit = quietly {
      val roots = result.iterator.flatMap(handles).toSeq
      val plans = roots.collect { case d: Dataset[_] => d.queryExecution.analyzed }
      val (keptFrames, freedFrames) = frames.partition { f =>
        val p = f.queryExecution.analyzed
        plans.exists(_.find(_.sameResult(p)).isDefined)
      }
      val read = lineage(
        roots.collect { case r: RDD[_] => r } ++
          (plans ++ keptFrames.map(_.queryExecution.analyzed)).flatMap(planRdds))
      rdds.filterNot(r => read(r.id)).foreach(freeRdd)
      freedFrames.foreach(f => quietly(f.unpersist(blocking = false)))
    }
  }

  /** Run `body` with a fresh [[Scope]] and return its result. On exit
    * — normal or by exception — every cache and cut made through the
    * scope that the result does not read is freed. The result is
    * searched through DataFrames, RDDs, and the products and
    * collections holding them (a model case class of frames keeps
    * every frame it holds).
    */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    var result: Option[T] = None
    try {
      val r = body(scope)
      result = Some(r)
      r
    } finally scope.close(result)
  }

  /** Free a frame that outlived its scope (a memo, or a result the
    * caller drops): its cache entry and every checkpoint leaf of its
    * plan — do not pass a frame that shares a checkpoint leaf with a
    * still-live frame, or the live frame's blocks go with it.
    */
  def free(df: DataFrame): Unit = quietly {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => freeRdd(lr.rdd)
      case _ => ()
    }
  }

  private def reliable(sc: SparkContext): Boolean = sc.getCheckpointDir.isDefined

  private def planRdds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[RDD[_]] = {
    val out = mutable.ArrayBuffer.empty[RDD[_]]
    plan.foreachWithSubqueries {
      case lr: LogicalRDD => out += lr.rdd
      case er: ExternalRDD[_] => out += er.rdd
      case _ => ()
    }
    out.toSeq
  }

  /** Ids of every RDD reachable from `roots` through dependencies (a
    * truncated RDD's only dependency is its checkpoint).
    */
  private def lineage(roots: Seq[RDD[_]]): Set[Int] = {
    val seen = mutable.HashSet.empty[Int]
    val stack = mutable.Stack[RDD[_]](roots: _*)
    while (stack.nonEmpty) {
      val r = stack.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => stack.push(d.rdd))
    }
    seen.toSet
  }

  /** The DataFrames and RDDs a scope result holds. */
  private def handles(x: Any): Iterator[Any] = x match {
    case d: Dataset[_] => Iterator(d)
    case r: RDD[_] => Iterator(r)
    case i: Iterable[_] => i.iterator.flatMap(handles)
    case p: Product => p.productIterator.flatMap(handles)
    case _ => Iterator.empty
  }

  private def freeRdd(rdd: RDD[_]): Unit = quietly {
    // freeing a truncated lineage is the point: skip unpersist's warning
    if (Shims.locallyCheckpointed(rdd)) Shims.dropBlocks(rdd) else rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def quietly(f: => Any): Unit =
    try { f; () } catch { case NonFatal(_) => () }
}
