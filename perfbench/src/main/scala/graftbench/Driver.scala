package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark driver: one client thread runs a workload's
  * queries back to back, each after the previous one finished, and
  * records raw timings. All metrics are derived from the JSON it
  * writes (see perfbench/metrics.py), so this file only measures.
  *
  * Phases, in order:
  *  1. set-up, once per data dir (all dirs hold the same tables): a
  *     fresh session plus one warm-up pass over that dir. Every dir is
  *     a new path, so per-corpus memo fills land in every set-up. The
  *     first, cold set-up pass is also a check pass: it writes each
  *     query's output as parquet under `<check-dir>/cold`.
  *  2. a warm check pass in the last session, over the last dir, with
  *     its memos filled: the path every timed pass takes. Its outputs
  *     go under `<check-dir>/warm`.
  *  3. timed passes until `--seconds` have elapsed. With `--trace 1`
  *     the passes alternate untraced / traced; a traced pass registers
  *     [[Probe]] and tags every Spark job with the query execution and
  *     phase (build or sink) it belongs to.
  *
  * Only public graft entry points are called: `GraftSession.builder`,
  * `SparkEntry.queries` and `SparkEntry.oracleSql`.
  */
object Driver {
  final case class Execution(id: Int, pass: Int, query: String, start: Double, built: Double,
      end: Double, cpuJiffies: Long, error: String, retainedBefore: Long, retainedAfter: Long)
  final case class Pass(kind: String, start: Double, end: Double, cpuJiffies: Long, jitMs: Long,
      tmpBytes: Long)

  val TagKey = "graftbench.tag"
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val mainStart = Clock.nowMs()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queryNames = opt("queries").split(",").toSeq
    val dataDirs = opt("data").split(",").toSeq
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val checkDir = opt("check-dir")
    val runTmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val all = SparkEntry.queries
    val unknown = queryNames.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val queries = queryNames.map(q => q -> all(q))

    val execs = ArrayBuffer[Execution]()
    val passes = ArrayBuffer[Pass]()
    val sessionStarts = ArrayBuffer[Double]()
    val probe = new Probe

    /** One query execution: the construction call, then the sink action. */
    def runQuery(spark: SparkSession, dir: String, name: String, fn: Query,
        sink: DataFrame => Unit, tagged: Boolean): Unit = {
      val sc = spark.sparkContext
      val id = execs.size
      val retained0 = if (tagged) Probe.retainedBytes(sc) else -1L
      val cpu0 = Clock.cpuJiffies()
      val t0 = Clock.nowMs()
      var built = Double.NaN
      var error = ""
      try {
        if (tagged) sc.setLocalProperty(TagKey, s"$id:build")
        val df = fn(spark, dir)
        built = Clock.nowMs()
        if (tagged) sc.setLocalProperty(TagKey, s"$id:sink")
        sink(df)
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[graftbench] $name failed: $error")
      } finally {
        if (tagged) sc.setLocalProperty(TagKey, null)
      }
      val t1 = Clock.nowMs()
      val cpu1 = Clock.cpuJiffies()
      val retained1 = if (tagged) Probe.retainedBytes(sc) else -1L
      execs += Execution(id, passes.size, name, t0, if (built.isNaN) t1 else built, t1,
        cpu1 - cpu0, error, retained0, retained1)
    }

    val noop: String => DataFrame => Unit =
      _ => _.write.format("noop").mode("overwrite").save()

    def runPass(spark: SparkSession, dir: String, kind: String,
        sinkFor: String => DataFrame => Unit, tagged: Boolean): Unit = {
      val sc = spark.sparkContext
      if (tagged) sc.addSparkListener(probe)
      val cpu0 = Clock.cpuJiffies()
      val jit0 = Clock.jitMs()
      val t0 = Clock.nowMs()
      queries.foreach { case (name, fn) => runQuery(spark, dir, name, fn, sinkFor(name), tagged) }
      val t1 = Clock.nowMs()
      val cpu1 = Clock.cpuJiffies()
      if (tagged) {
        BusDrain(sc)
        sc.removeSparkListener(probe)
      }
      passes += Pass(kind, t0, t1, cpu1 - cpu0, Clock.jitMs() - jit0, Clock.treeBytes(runTmp))
    }

    // 1. set-up, once per data dir; the last session stays open
    val parquetSink: String => String => DataFrame => Unit =
      sub => q => _.write.mode("overwrite").parquet(s"$checkDir/$sub/$q")
    var spark: SparkSession = null
    dataDirs.zipWithIndex.foreach { case (dir, i) =>
      if (spark != null) spark.stop()
      sessionStarts += Clock.nowMs()
      spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      if (i == 0) runPass(spark, dir, "check", parquetSink("cold"), tagged = false)
      else runPass(spark, dir, "setup", noop, tagged = false)
    }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter(kv => queryNames.contains(kv._1))
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    val dir = dataDirs.last

    // 2. warm check pass, on the timed passes' session, dir and memos
    runPass(spark, dir, "check", parquetSink("warm"), tagged = false)

    // 3. timed passes
    val spin0 = Clock.spinMs()
    val load0 = Clock.loadavg()
    val (sys0, steal0) = Clock.systemJiffies()
    val own0 = Clock.cpuJiffies()
    val w0 = Clock.nowMs()
    var timed = 0
    while ((Clock.nowMs() - w0) / 1e3 < seconds || (traced && timed < 2)) {
      val t = traced && timed % 2 == 1
      runPass(spark, dir, if (t) "traced" else "timed", noop, tagged = t)
      timed += 1
    }
    val w1 = Clock.nowMs()
    val (sys1, steal1) = Clock.systemJiffies()
    val own1 = Clock.cpuJiffies()
    val load1 = Clock.loadavg()
    val spin1 = Clock.spinMs()
    spark.stop()

    val out = Json.obj(Seq(
      "main_start" -> Json.num(mainStart),
      "session_starts" -> Json.arr(sessionStarts.map(Json.num)),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "kind" -> Json.str(p.kind), "start" -> Json.num(p.start), "end" -> Json.num(p.end),
        "cpu_jiffies" -> p.cpuJiffies.toString, "jit_ms" -> p.jitMs.toString,
        "tmp_bytes" -> p.tmpBytes.toString)))),
      "execs" -> Json.arr(execs.map(e => Json.obj(Seq(
        "id" -> e.id.toString, "pass" -> e.pass.toString, "query" -> Json.str(e.query),
        "start" -> Json.num(e.start), "built" -> Json.num(e.built), "end" -> Json.num(e.end),
        "cpu_jiffies" -> e.cpuJiffies.toString, "error" -> Json.str(e.error),
        "retained_before" -> e.retainedBefore.toString,
        "retained_after" -> e.retainedAfter.toString)))),
      "jobs" -> probe.jobsJson,
      "tasks" -> probe.tasksJson,
      "timed_window" -> Json.obj(Seq(
        "wall_s" -> Json.num((w1 - w0) / 1e3),
        "system_busy_jiffies" -> (sys1 - sys0).toString,
        "steal_jiffies" -> (steal1 - steal0).toString,
        "spin_ms" -> Json.arr(Seq(Json.num(spin0), Json.num(spin1))),
        "own_jiffies" -> (own1 - own0).toString,
        "load_start" -> Json.num(load0), "load_end" -> Json.num(load1))),
      "peak_rss_kb" -> Clock.peakRssKb().toString))
    Files.writeString(Paths.get(opt("out")), out)
  }
}

/** Wall clock in epoch ms at sub-ms resolution, plus the /proc readings
  * the benchmark reports. Spans use the realtime clock Spark stamps its
  * job events with, so job spans line up with query spans; a clock
  * built on System.nanoTime drifts away from it and misplaces jobs.
  */
object Clock {
  def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }

  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Throwable => "" }

  /** utime + stime of this JVM, in USER_HZ jiffies. */
  def cpuJiffies(): Long = {
    val s = read("/proc/self/stat")
    if (s.isEmpty) -1L
    else {
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    }
  }

  /** (busy, steal) jiffies summed over all cores; busy excludes idle,
    * iowait and steal.
    */
  def systemJiffies(): (Long, Long) = {
    val line = read("/proc/stat").linesIterator.nextOption().getOrElse("")
    if (!line.startsWith("cpu ")) (-1L, -1L)
    else {
      val f = line.trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    }
  }

  /** A fixed single-threaded spin, in ms: slows when the host gives the
    * benchmark less CPU, whatever the cause.
    */
  def spinMs(): Double = {
    val t0 = nowMs()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("unreachable")
    nowMs() - t0
  }

  /** Time the JIT compiler threads have spent compiling, summed over
    * the threads, in ms.
    */
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def loadavg(): Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  def peakRssKb(): Long =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def treeBytes(root: Path): Long = {
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p)).mapToLong(p =>
        try Files.size(p) catch { case _: Throwable => 0L }).sum()
      finally st.close()
    }
  }
}

/** Minimal JSON writer: values arrive pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
