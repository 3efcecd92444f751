package graft.streaming

import graft.SparkSpec
import graft.functions.LmQuality
import java.nio.file.Files

/** D28 — streaming LM quality gate: micro-batch verdicts equal the
  * batch scoreAgainst on the same documents (stream ≡ batch), the
  * cross-corpus unseen/OOV arms are live on crawl text, and a second
  * drop appends only the new file.
  */
class StreamingLmQualitySpec extends SparkSpec {
  import spark.implicits._

  test("per-batch verdicts equal batch scoreAgainst; second drop appends only") {
    val in = Files.createTempDirectory("graft_lmin").toString
    val out = Files.createTempDirectory("graft_lmout").toString
    val cp = Files.createTempDirectory("graft_lmcp").toString

    val train = Seq((100L, "a b a b c q a b"), (101L, "a b c a b")).toDF("doc_id", "text")
    val model = LmQuality.trainModel(train)
    try {
      // doc 1: in-vocabulary; doc 2: context z is OOV for the model
      Files.writeString(java.nio.file.Paths.get(in, "d1.jsonl"),
        """{"doc_id": 1, "text": "a b c"}
          |{"doc_id": 2, "text": "z a b"}""".stripMargin)
      StreamingLmQuality.start(spark, in, model, out, cp, t1 = 0.5, t2 = 0.2)
        .awaitTermination(60000)

      val streamed = spark.read.parquet(out)
        .select("doc_id", "n_pairs", "n_seen", "n_oov_ctx", "mean_p", "bucket")
      val batch = LmQuality.scoreAgainst(train,
          Seq((1L, "a b c"), (2L, "z a b")).toDF("doc_id", "text"))
        .withColumn("bucket", LmQuality.bucketExpr(
          org.apache.spark.sql.functions.col("mean_p"), 0.5, 0.2))
      val s = streamed.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = batch.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(s == b)
      // the OOV arm is live on crawl text
      val d2 = streamed.filter($"doc_id" === 2L).head()
      assert(d2.getAs[Long]("n_oov_ctx") == 1L)

      Files.writeString(java.nio.file.Paths.get(in, "d2.jsonl"),
        """{"doc_id": 3, "text": "a b a b"}""")
      StreamingLmQuality.start(spark, in, model, out, cp, t1 = 0.5, t2 = 0.2)
        .awaitTermination(60000)
      val second = spark.read.parquet(out)
      assert(second.count() == 3)
      assert(second.filter($"doc_id" === 3L).count() == 1)
    } finally graft.Exec.free(model.bg)
  }
}
