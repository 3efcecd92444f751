package graft.operators

import graft.{Exec, SparkSpec}

/** GraphPart: the size-adaptive partitioner for the iterative RDD
  * operators — rows-per-partition sizing, the raw-partition upper
  * clamp (cluster-scale behavior unchanged), the conf knob, and the
  * cache side-effect (raw evaluates once).
  */
class GraphPartSpec extends SparkSpec {

  test("toy input collapses to one partition; count is exact") {
    val raw = spark.sparkContext.parallelize(1L to 1000L, 16)
    val (n, part) = Exec.scoped(GraphPart.sized(raw, _))
    assert(n == 1000L)
    assert(part.numPartitions == 1)
  }

  test("partitions grow with rows but never exceed raw's partition count") {
    spark.conf.set("spark.graft.graph.rowsPerPartition", "100")
    try {
      val raw = spark.sparkContext.parallelize(1L to 1000L, 4)
      val (n, part) = Exec.scoped(GraphPart.sized(raw, _))
      assert(n == 1000L)
      // ceil(1000/100) = 10, clamped to raw's 4 partitions
      assert(part.numPartitions == 4)

      val raw2 = spark.sparkContext.parallelize(1L to 350L, 16)
      val (_, part2) = Exec.scoped(GraphPart.sized(raw2, _))
      // ceil(350/100) = 4 < 16 input splits
      assert(part2.numPartitions == 4)
    } finally spark.conf.unset("spark.graft.graph.rowsPerPartition")
  }

  test("sizing caches raw: the source evaluates once") {
    val evals = spark.sparkContext.longAccumulator("evals")
    val raw = spark.sparkContext.parallelize(1L to 100L, 2)
      .map { v => evals.add(1L); (v, v) }
    Exec.scoped { s =>
      val (_, part) = GraphPart.sized(raw, s)
      val a = raw.partitionBy(part)
      val b = raw.map(_.swap).partitionBy(part)
      a.count(); b.count()
    }
    assert(evals.value == 100L,
      s"raw must evaluate exactly once (cached by sized); saw ${evals.value / 100} passes")
  }

  test("empty input still yields a valid single-partition partitioner") {
    val raw = spark.sparkContext.parallelize(Seq.empty[Long], 8)
    val (n, part) = Exec.scoped(GraphPart.sized(raw, _))
    assert(n == 0L && part.numPartitions == 1)
  }
}
