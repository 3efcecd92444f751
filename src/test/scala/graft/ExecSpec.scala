package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Exec.scoped — cache-release contract and the checkpoint-dir
  * durability switch (reliable checkpoint when a dir is configured,
  * local checkpoint otherwise).
  */
class ExecSpec extends SparkSpec {
  import spark.implicits._

  private def anyFiles(f: java.io.File): Boolean =
    f.isFile || Option(f.listFiles).exists(_.exists(anyFiles))

  test("a scope releases its input cache and returns correct results") {
    val df = (1L to 100L).toDF("v")
    val out = Exec.scoped { b =>
      val d = b.cache(df)
      d.count()
      b.cut(d.filter(col("v") % 2 === 0).agg(sum(col("v")).as("s")))
    }
    assert(out.as[Long].head() === (2L to 100L by 2).sum)
    // the INPUT's cache entry is gone (the small materialized result
    // legitimately holds its own checkpoint blocks until freed)
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "input cache leaked past the scope")
    Exec.free(out)
  }

  test("a GraftSession-built session hits the reliable-checkpoint path by default") {
    // getOrCreate returns the suite's active session; GraftSession
    // must give it a checkpoint dir when none is configured, so every
    // cut upgrades from a local checkpoint without caller action
    val prior = spark.sparkContext.getCheckpointDir
    try {
      spark.sparkContext.setCheckpointDir(null)
      val s = GraftSession.get()
      assert(s eq spark, "getOrCreate must return the active session")
      val dirOpt = s.sparkContext.getCheckpointDir
      assert(dirOpt.isDefined, "GraftSession must default a checkpoint dir")
      val out = Exec.scoped(_.cut((1L to 10L).toDF("v").agg(count(lit(1)).as("n"))))
      assert(out.as[Long].head() === 10L)
      assert(anyFiles(new java.io.File(new java.net.URI(dirOpt.get).getPath)),
        "a cut under a GraftSession must write reliable checkpoint files")
      Exec.free(out)
      // an explicitly configured dir is respected, not replaced
      assert(GraftSession.get().sparkContext.getCheckpointDir === dirOpt)
    } finally spark.sparkContext.setCheckpointDir(prior.orNull)
  }

  test("a scope releases every cached intermediate and computes through the chain") {
    val a = (1L to 50L).toDF("v")
    val b = a.filter(col("v") % 2 === 0)
    val c = b.withColumn("w", col("v") * 10)
    val out = Exec.scoped { s =>
      Seq(a, b, c).foreach(df => s.cache(df))
      c.count()
      // the result references MULTIPLE cached members, like
      // GraphMetrics's deg-join-triangles shape
      s.cut(c.join(b, "v").agg(sum(col("w")).as("s")))
    }
    assert(out.as[Long].head() === (2L to 50L by 2).map(_ * 10).sum)
    for (df <- Seq(a, b, c))
      assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
        "cached intermediate leaked past the scope")
    Exec.free(out)
  }

  test("with a checkpoint dir set, the result is a RELIABLE checkpoint") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val out = Exec.scoped(_.cut((1L to 10L).toDF("v").agg(count(lit(1)).as("n"))))
      assert(out.as[Long].head() === 10L)
      // reliable checkpoints materialize as files under the dir
      assert(anyFiles(new java.io.File(dir)),
        s"no reliable checkpoint files written under $dir")
      Exec.free(out)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("a scope keeps exactly what its result reads, in both checkpoint modes") {
    def run(): (Seq[Long], scala.collection.Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = Exec.scoped { b =>
        val x = b.cut((1L to 20L).toDF("v"))
        val y = b.cut(x.filter(col("v") > 10))
        val z = b.cache(y.select((col("v") * 2).as("v")))
        z.count()
        // the lazy result reads y's cut only: x and the cache go
        y.filter(col("v") % 2 === 0)
      }
      val rows = out.as[Long].collect().toSeq.sorted
      val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
      Exec.free(out)
      assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty,
        "freeing the result must restore the block map")
      (rows, kept)
    }
    val (local, localKept) = run()
    assert(localKept.size === 1, s"only y's cut may survive: $localKept")
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = try run()._1 finally spark.sparkContext.setCheckpointDir(null)
    assert(local === (12L to 20L by 2))
    assert(reliable === local)
  }

  test("a scope frees everything when its body throws") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Exec.scoped { b =>
        b.cut((1L to 10L).toDF("v"))
        b.cache(spark.sparkContext.parallelize(1 to 10)).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
  }
}
