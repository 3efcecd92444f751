package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import graft.{BenchGate, GraftSession, SparkEntry}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one query tool: times named queries in isolation (no suite
  * warm-up), splits each run into construction and sink, and can dump
  * each query's initial and final plans.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.tools.IsoBench <q> [<q> ...] [--age] [--plans <dir>]"
  * }}}
  *  - `--age` runs the full suite once before timing, so a query is
  *    timed in a session as heavy as the suite leaves it (fresh vs
  *    aged separates "the operator regressed" from "the session grew");
  *  - `--plans <dir>` writes `<q>_initial.txt` (the formatted explain
  *    before execution) and `<q>_final.txt` (the executed plan of the
  *    sink's own QueryExecution, `isFinalPlan=true` where adaptive);
  *    pick one dir per side of an A/B.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (default sf0.1),
  * `SPARK_GRAFT_ISO_ITERS` (timed iterations, default 3),
  * `SPARK_GRAFT_CPUS` (`local[N]` and N shuffle partitions, default
  * 32, as `Bench` reads it) and `SPARK_GRAFT_ISO_CONF` (`k=v,k=v`
  * applied on top of `GraftSession.builder`, e.g. to switch AQE, the
  * serializer or shuffle partitions for an A/B).
  *
  * Load-gated like `Bench` (sleep-waits for 1-min loadavg < 0.5). Each
  * query runs once untimed, then `iters` timed noop-sink runs, and
  * prints one line:
  *  - `median`/`min`/`max`: wall seconds per run (construction + sink);
  *  - `build`/`sink`: median seconds of the construction call (eager
  *    cuts run here) and of the noop write, from the same two
  *    timestamps that span each run;
  *  - `ext`: cores busy outside this process tree over the timed
  *    window (/proc/stat); > 0.5 means the numbers are suspect;
  *  - `cpu`: own process-tree CPU seconds per run — at `local[N]` a
  *    lazy plan's duplicated subtrees run concurrently on idle cores,
  *    so wall can hide a recompute that CPU shows;
  *  - `jobs`: median Spark jobs started by the construction call and
  *    by the sink, as `<build>/<sink>`;
  *  - `plan_ms`: median `QueryPlanningTracker` phase milliseconds of the
  *    sink's own QueryExecution (analysis/optimization/planning), read
  *    from a listener, so nothing is planned twice; the query's own
  *    analysis runs at construction and counts in `build`;
  *  - `rdds`/`heap_mb`: persistent-RDD count and used heap after the
  *    query (blocks a query leaves behind show here).
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

  /** Each successful noop sink's own QueryExecution, in write order.
    * Register once per session; calls arrive on the listener bus, so
    * `take` waits for them. The sink is the one V2 overwrite graft
    * runs: its own writes go through V1 parquet.
    */
  final class Sinks extends QueryExecutionListener {
    private val done = new LinkedBlockingQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.logical.isInstanceOf[OverwriteByExpression]) done.put(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    def take(n: Int): Seq[QueryExecution] = Seq.fill(n) {
      val qe = done.poll(120, TimeUnit.SECONDS)
      if (qe == null) throw new IllegalStateException("no sink call from the listener bus in 120 s")
      qe
    }
  }

  /** Spark jobs started per job tag. Register once per session
    * (`sc.addSparkListener`); [[tagged]] tags every job its body starts
    * on the calling thread. Job starts arrive on the listener bus, so
    * call [[sync]] before reading counts with [[take]].
    */
  final class Jobs extends SparkListener {
    private val started = new ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq
        .flatMap(_.split(',')).foreach(t => started.merge(t, 1, (a: Integer, b: Integer) => a + b))

    /** `body` with its jobs tagged `tag` (no commas). */
    def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    }

    /** Wait until every job start before this call has been counted: a
      * tagged marker job's start arrives after them (one bus queue
      * delivers in order).
      */
    def sync(sc: SparkContext): Unit = {
      val marker = s"sync#${System.nanoTime()}"
      tagged(sc, marker)(sc.parallelize(Seq(0), 1).count())
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!started.containsKey(marker)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException("no job start from the listener bus in 120 s")
        Thread.sleep(2)
      }
      started.remove(marker)
    }

    /** Jobs counted under `tag` (forgetting it). */
    def take(tag: String): Int = Option(started.remove(tag)).fold(0)(_.intValue)
  }

  /** One timed run: `System.nanoTime` before construction, after it,
    * and after the sink, and the jobs each phase started.
    */
  final case class Run(start: Long, built: Long, done: Long, buildJobs: Int, sinkJobs: Int) {
    def build: Double = (built - start) / 1e9
    def sink: Double = (done - built) / 1e9
    def wall: Double = (done - start) / 1e9
  }

  final case class Result(name: String, runs: Seq[Run], ext: Double, cpu: Double,
                          planMs: Seq[(String, Long)], rdds: Int, heapMb: Long)

  def cpus(env: Map[String, String] = sys.env): Int = env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(env: Map[String, String] = sys.env): SparkSession.Builder = {
    val n = cpus(env)
    env.get("SPARK_GRAFT_ISO_CONF").toSeq.flatMap(_.split(',')).filter(_.contains('='))
      .foldLeft(GraftSession.builder(s"local[$n]", n)) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k.trim, v.trim)
      }
  }

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Warm `name` once (dumping its plans into `plans`, if given), then
    * time `iters` runs. `sinks` and `jobs` must be registered on
    * `spark`, and `sinks` must hold no undelivered call.
    */
  def run(spark: SparkSession, sinks: Sinks, jobs: Jobs, name: String, sfDir: String, iters: Int,
          plans: Option[Path] = None): Result = {
    val sc = spark.sparkContext
    val query = SparkEntry.queries(name)
    val warm = query(spark, sfDir)
    plans.foreach { dir =>
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${name}_initial.txt"),
        warm.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    sink(warm)
    val warmQe = sinks.take(1).head
    plans.foreach(dir => Files.writeString(dir.resolve(s"${name}_final.txt"),
      warmQe.executedPlan.toString))

    val (s0, o0) = cpuJiffies()
    val stamps = (1 to iters).map { i =>
      val t0 = System.nanoTime()
      val df = jobs.tagged(sc, s"$name#$i/build")(query(spark, sfDir))
      val t1 = System.nanoTime()
      jobs.tagged(sc, s"$name#$i/sink")(sink(df))
      (t0, t1, System.nanoTime())
    }
    val (s1, o1) = cpuJiffies()
    jobs.sync(sc)
    val runs = stamps.zip(1 to iters).map { case ((t0, t1, t2), i) =>
      Run(t0, t1, t2, jobs.take(s"$name#$i/build"), jobs.take(s"$name#$i/sink"))
    }
    val window = (runs.last.done - runs.head.start) / 1e9
    val ext =
      if (s0 < 0 || o0 < 0 || s1 < 0 || o1 < 0 || window <= 0) -1.0
      else math.max(0.0, ((s1 - s0) - (o1 - o0)) / 100.0 / window)
    val cpu = if (o0 < 0 || o1 < 0) -1.0 else (o1 - o0) / 100.0 / iters

    val phases = sinks.take(iters).map(_.tracker.phases)
    val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).filter(p => phases.exists(_.contains(p)))
      .map(p => p -> median(phases.flatMap(_.get(p)).map(_.durationMs)))
    val rt = Runtime.getRuntime
    Result(name, runs, ext, cpu, planMs, sc.getPersistentRDDs.size,
      (rt.totalMemory - rt.freeMemory) / 1048576)
  }

  private def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.length / 2)

  def line(r: Result): String = {
    val walls = r.runs.map(_.wall)
    val plan = r.planMs.map { case (p, ms) => s"$p:$ms" }.mkString(",")
    f"ISO ${r.name}%-26s median=${median(walls)}%.3f min=${walls.min}%.3f max=${walls.max}%.3f " +
      f"build=${median(r.runs.map(_.build))}%.3f sink=${median(r.runs.map(_.sink))}%.3f " +
      f"jobs=${median(r.runs.map(_.buildJobs))}/${median(r.runs.map(_.sinkJobs))} " +
      f"ext=${r.ext}%.2f cpu=${r.cpu}%.2f plan_ms=$plan rdds=${r.rdds} heap_mb=${r.heapMb}"
  }

  def main(args: Array[String]): Unit = {
    val plans = args.sliding(2).collectFirst { case Array("--plans", dir) => dir }
    val names = args.toSeq.filterNot(a => a == "--age" || a == "--plans" || plans.contains(a))
    val iters = sys.env.getOrElse("SPARK_GRAFT_ISO_ITERS", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (gateLoad, waited) = BenchGate.gateWait(
      load1 _, s => Thread.sleep(s * 1000L), 0.5, 600)
    System.err.println(f"[iso] gate: load ${gateLoad}%.2f after ${waited}s wait")
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sinks = new Sinks
    spark.listenerManager.register(sinks)
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    if (args.contains("--age")) {
      val t0 = System.nanoTime()
      var writes = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, f) =>
        try { sink(f(spark, sfDir)); writes += 1 }
        catch { case e: Throwable => System.err.println(s"[iso] aging $n failed: ${e.getMessage}") }
      }
      sinks.take(writes)
      System.err.println(f"[iso] aged by the full suite in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    names.foreach(n => println(line(run(spark, sinks, jobs, n, sfDir, iters, plans.map(Paths.get(_))))))
    spark.stop()
  }
}
