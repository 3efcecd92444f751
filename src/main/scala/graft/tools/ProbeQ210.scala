package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r16 knob-sweep for q210 graph-ANN: the r15 verdict flags recall@5
  * decaying 0.95 → 0.75 from sf0.01 to sf0.1 at fixed knobs (a
  * serving index whose recall decays with corpus growth inverts the
  * scale story). This probe measures recall@5 against exact
  * integer-SSE brute force for a grid of (degree, nprobe, beam,
  * rounds, entryBeam, maxLevel) at the given SF, plus wall time per
  * combo, so the scaled-knob formula is set from evidence rather
  * than cargo-culted.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.ProbeQ210"
  */
object ProbeQ210 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.LongSseExpressions.register(spark)

    val e = graft.Tables.embeddings(spark, sfDir)
    val n = e.count()
    val model = graft.similarity.IvfIndex.trainCentroidsQuantized(
      e, dim = 64, nCentroids = 8, scaleBits = 10, refinements = 1)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))

    // exact brute-force top-5 ground truth (integer SSE, id ties)
    val q = queries.select(col("query_id"),
      graft.similarity.IvfIndex.quantizeExpr(col("embedding"), model.scaleBits).as("_qq"))
    val nv = e.select(col("vec_id").as("_nid"),
      graft.similarity.IvfIndex.quantizeExpr(col("embedding"), model.scaleBits).as("_nq"))
    val truth = q.crossJoin(nv)
      .withColumn("_d", graft.similarity.GraphAnn.intDist(col("_qq"), col("_nq")))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("_d"), col("_nid"))))
      .filter(col("_r") <= 5)
      .select(col("query_id"), col("_nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[probe] n=$n truth pairs=${truth.size}")

    val sk = graft.similarity.GraphAnn.scaledKnobs(n)
    val grid = Seq(
      // the r16 scaled knobs first, then the r15 sweep for history
      (sk.degree, 3, sk.beam, sk.rounds, sk.entryBeam, sk.maxLevel),
      // (degree, nprobe, beam, rounds, entryBeam, maxLevel) — r15 shipped knobs
      (10, 3, 8, 4, 3, 3),
      (10, 3, 8, 6, 3, 3),
      (10, 3, 16, 4, 3, 3),
      (10, 3, 16, 6, 3, 3),
      (16, 3, 8, 4, 3, 3),
      (16, 3, 16, 6, 3, 3),
      (22, 3, 8, 4, 3, 3),
      (10, 3, 8, 4, 8, 2),
      (10, 3, 16, 6, 8, 2),
      (16, 3, 16, 6, 8, 2),
      (10, 4, 8, 4, 3, 3),
      (16, 4, 16, 6, 3, 3)
    )
    for ((degree, nprobe, beam, rounds, entryBeam, maxLevel) <- grid) {
      val t0 = System.nanoTime()
      val got = graft.Exec.scoped { b =>
        val edges = b.cache(
          graft.similarity.GraphAnn.knnGraph(e, model, degree = degree, nprobe = nprobe))
        edges.count()
        b.cut(graft.similarity.GraphAnn.search(e, edges, queries,
          maxLevel = maxLevel, scaleBits = model.scaleBits,
          k = 5, beam = beam, rounds = rounds, entryBeam = entryBeam))
      }.select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = (truth intersect got).size.toDouble / truth.size
      println(f"[probe] degree=$degree nprobe=$nprobe beam=$beam rounds=$rounds " +
        f"entryBeam=$entryBeam maxLevel=$maxLevel recall@5=$recall%.3f time=$dt%.2f s")
    }
    spark.stop()
  }
}
