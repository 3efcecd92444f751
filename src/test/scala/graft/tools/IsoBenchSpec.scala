package graft.tools

import java.nio.file.Files

import graft.SparkSpec

class IsoBenchSpec extends SparkSpec {

  /** `IsoBench.run` with both its listeners registered for the call. */
  private def isoRun(name: String, iters: Int, plans: Option[java.nio.file.Path] = None) = {
    val sinks = new IsoBench.Sinks
    val jobs = new IsoBench.Jobs
    spark.listenerManager.register(sinks)
    spark.sparkContext.addSparkListener(jobs)
    try IsoBench.run(spark, sinks, jobs, name, sf(), iters, plans)
    finally {
      spark.listenerManager.unregister(sinks)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("one IsoBench run: build/sink split, sink planning phases and both plan files") {
    val dir = Files.createTempDirectory("iso_plans")
    val r = isoRun("q10_agg", 2, Some(dir))

    val initial = Files.readString(dir.resolve("q10_agg_initial.txt"))
    assert(initial.contains("== Physical Plan =="), initial)
    val fin = Files.readString(dir.resolve("q10_agg_final.txt"))
    assert(fin.contains("isFinalPlan=true"), fin)

    assert(r.runs.size == 2)
    r.runs.foreach { run =>
      assert(run.build > 0 && run.sink > 0, run)
      assert(math.abs(run.build + run.sink - run.wall) < 1e-9, run)
      assert(run.sinkJobs > 0, run)
    }
    assert(r.planMs.map(_._1).contains("planning"), r.planMs)
    val line = IsoBench.line(r)
    Seq("median=", "min=", "max=", "build=", "sink=", "jobs=", "ext=", "cpu=", "plan_ms=", "rdds=", "heap_mb=")
      .foreach(f => assert(line.contains(f), line))
  }

  test("IsoBench counts jobs per phase: opening q01's table runs none at construction") {
    val line = IsoBench.line(isoRun("q01_extract_meta", 1))
    assert("""\bjobs=0/[1-9]\d* """.r.findFirstIn(line).isDefined, line)
  }

  test("the IsoBench session runs at local[SPARK_GRAFT_CPUS], default 32") {
    assert(IsoBench.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(IsoBench.cpus(Map.empty) == 32)
    assert(IsoBench.cpus() == sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt))
  }
}
