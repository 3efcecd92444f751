package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults every graft job wants.
  *
  * Local mode is a test harness; the conf is written for a real
  * cluster: AQE (+skew handling) re-plans shuffles at runtime,
  * shuffle partitions default to a cores-based figure (override with
  * `spark.sql.shuffle.partitions` on a cluster — rule of thumb 2-3x
  * total executor cores, or let AQE coalesce from a high initial
  * number at 100 TB).
  */
object GraftSession {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  /** Session with graft defaults, including a CHECKPOINT DIR when none
    * is configured. The one rule (`Exec`): every lineage cut is a
    * RELIABLE checkpoint when the session has a checkpoint dir and a
    * local checkpoint (executor-storage blocks, lost with the
    * executor) otherwise — so every operator's cuts survive executor
    * loss without caller action. The default is a temp dir — correct
    * for local mode; on a cluster pass `checkpointDir` pointed at
    * durable shared storage (HDFS/S3), or pre-set one on the context,
    * which is always respected.
    */
  def get(checkpointDir: Option[String] = None): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    checkpointDir match {
      case Some(dir) => s.sparkContext.setCheckpointDir(dir)
      case None if s.sparkContext.getCheckpointDir.isEmpty =>
        s.sparkContext.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      case None => // caller already configured one — keep it
    }
    s
  }
}
