package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-runtime probe for traced passes. Every job carries the tag
  * `<exec id>:<build|sink>` set by the driver thread; its stages
  * inherit it, and task metrics are summed per tag. Job start and end
  * times become the innermost spans (run → pass → query → build/sink
  * → job); the per-tag sums are the `spark.*` layer counts.
  */
class Probe extends SparkListener {
  private final class Job(val id: Int, val tag: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class Agg {
    var stages, tasks, failures = 0L
    var cpuNs, runMs, gcMs, busyMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Driver.TagKey))).getOrElse("none")
    jobs.put(e.jobId, new Job(e.jobId, tag, e.time))
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageTag.getOrDefault(e.stageInfo.stageId, "none"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageTag.getOrDefault(e.stageId, "none"))
    val info = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (info != null) {
        if (!info.successful) a.failures += 1
        if (info.finishTime > 0) a.busyMs += info.finishTime - info.launchTime
      }
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobsJson: String = Json.arr(jobs.values().asScala.toSeq.sortBy(_.id).map(j =>
    Json.obj(Seq("id" -> j.id.toString, "tag" -> Json.str(j.tag),
      "start" -> j.start.toString, "end" -> j.end.toString))))

  def tasksJson: String = Json.obj(aggs.asScala.toSeq.sortBy(_._1).map { case (tag, a) =>
    tag -> Json.obj(Seq(
      "stages" -> a.stages, "tasks" -> a.tasks, "failures" -> a.failures,
      "cpu_ns" -> a.cpuNs, "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "busy_ms" -> a.busyMs,
      "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
      "spill" -> a.spill, "input" -> a.input, "output" -> a.output)
      .map { case (k, v) => k -> v.toString })
  })
}

object Probe {
  /** Bytes of storage blocks (cached or locally checkpointed RDDs)
    * still held by the block managers.
    */
  def retainedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
