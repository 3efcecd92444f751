package graft.tools

import graft.{BenchGate, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query benchmark (no suite warm-up, N iterations,
  * median/min/max): `sbt "runMain graft.tools.IsoBench q50_profile"`.
  * Isolates a query from suite-JVM effects when a full Bench number
  * looks off.
  *
  * r17: load-gated like Bench (sleep-waits for 1-min loadavg < 0.5
  * before starting) and every line carries the external-cores
  * sentinel measured over that query's batch window via /proc/stat —
  * this box sees intermittent multi-core external load that a
  * pre-run loadavg check alone cannot rule out mid-batch.
  */
object IsoBench {
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def procJiffies(pid: Long): Long = try {
    val s = java.nio.file.Files.readString(java.nio.file.Paths.get(s"/proc/$pid/stat"))
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  } catch { case _: Throwable => 0L }

  private val ownPids: Seq[Long] = {
    val b = Seq.newBuilder[Long]
    var h = ProcessHandle.current()
    b += h.pid
    var depth = 0
    while (h.parent.isPresent && depth < 3) { h = h.parent.get; b += h.pid; depth += 1 }
    b.result()
  }

  private def cpuJiffies(): (Long, Long) = {
    val sysBusy = try {
      val line = java.nio.file.Files.lines(java.nio.file.Paths.get("/proc/stat"))
        .findFirst().orElse("")
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    } catch { case _: Throwable => -1L }
    val own = try ownPids.map(procJiffies).sum catch { case _: Throwable => -1L }
    (sysBusy, own)
  }

  def main(args: Array[String]): Unit = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_ISO_ITERS", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (gateLoad, waited) = BenchGate.gateWait(
      load1 _, s => Thread.sleep(s * 1000L), 0.5, 600)
    System.err.println(f"[iso] gate: load ${gateLoad}%.2f after ${waited}s wait")
    val b0 = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val b1 = sys.env.get("SPARK_GRAFT_ISO_SERIALIZER")
      .fold(b0)(s => b0.config("spark.serializer", s))
    // r18: generic conf injection for flag-toggle A/Bs, e.g.
    // SPARK_GRAFT_ISO_CONF="spark.graft.graph.rowsPerPartition=1000000"
    val spark = sys.env.get("SPARK_GRAFT_ISO_CONF")
      .map(_.split(',').filter(_.contains('=')))
      .fold(b1)(_.foldLeft(b1) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k.trim, v.trim)
      })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = args.toSeq
    val qs = SparkEntry.queries
    names.foreach { n => qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save() } // warm
    names.foreach { n =>
      val (s0, o0) = cpuJiffies()
      val t0w = System.nanoTime()
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val wall = (System.nanoTime() - t0w) / 1e9
      val (s1, o1) = cpuJiffies()
      val ext =
        if (s0 < 0 || o0 < 0 || s1 < 0 || o1 < 0 || wall <= 0) -1.0
        else math.max(0.0, ((s1 - s0) - (o1 - o0)) / 100.0 / wall)
      // r18: own-CPU seconds per iteration — the scale-relevant cost.
      // At sf0.1 on local[32] a lazy plan's duplicated subtrees run
      // CONCURRENTLY on otherwise-idle cores, so wall time can hide a
      // 3-5x recompute that is pure added cost at cluster scale; the
      // process-tree CPU delta per iteration sees exactly that work.
      val cpuPerIter =
        if (o0 < 0 || o1 < 0) -1.0 else (o1 - o0) / 100.0 / iters
      println(f"ISO $n%-26s median=${ts.sorted.apply(iters / 2)}%.3f min=${ts.min}%.3f max=${ts.max}%.3f ext=$ext%.2f cpu=$cpuPerIter%.2f")
    }
    spark.stop()
  }
}
