package graft.tools

import java.nio.file.Files

import graft.SparkSpec

class IsoBenchSpec extends SparkSpec {

  test("one IsoBench run: build/sink split, sink planning phases and both plan files") {
    val sinks = new IsoBench.Sinks
    spark.listenerManager.register(sinks)
    val dir = Files.createTempDirectory("iso_plans")
    val r = try IsoBench.run(spark, sinks, "q10_agg", sf(), 2, Some(dir))
    finally spark.listenerManager.unregister(sinks)

    val initial = Files.readString(dir.resolve("q10_agg_initial.txt"))
    assert(initial.contains("== Physical Plan =="), initial)
    val fin = Files.readString(dir.resolve("q10_agg_final.txt"))
    assert(fin.contains("isFinalPlan=true"), fin)

    assert(r.runs.size == 2)
    r.runs.foreach { run =>
      assert(run.build > 0 && run.sink > 0, run)
      assert(math.abs(run.build + run.sink - run.wall) < 1e-9, run)
    }
    assert(r.planMs.map(_._1).contains("planning"), r.planMs)
    val line = IsoBench.line(r)
    Seq("median=", "min=", "max=", "build=", "sink=", "ext=", "cpu=", "plan_ms=", "rdds=", "heap_mb=")
      .foreach(f => assert(line.contains(f), line))
  }

  test("the IsoBench session runs at local[SPARK_GRAFT_CPUS], default 32") {
    assert(IsoBench.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(IsoBench.cpus(Map.empty) == 32)
    assert(IsoBench.cpus() == sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt))
  }
}
