package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.tools.IsoBench

/** `Tables.open` reports exactly the schema Spark's own inference does,
  * and opens without a Spark job.
  */
class TablesSpec extends SparkSpec {

  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
    "region", "events", "documents", "embeddings")
  private val menuEtl = Seq("q01_extract_meta", "q02_clean_text", "q03_chunk_text",
    "q04_parse_menu", "q05_validate", "q06_price_display", "q41_detected_currency",
    "q42_variant_parse", "q08_batch_manifest")

  /** Both reads give the same schema, or both fail. */
  private def sameSchema(paths: String*): Unit =
    (Try(spark.read.parquet(paths: _*).schema), Try(Tables.open(spark, paths: _*).schema)) match {
      case (Success(inferred), Success(opened)) =>
        assert(opened == inferred, s"${paths.mkString(", ")}:\n$opened\n!=\n$inferred")
      case (Failure(_), Failure(_)) => ()
      case (inferred, opened) =>
        fail(s"${paths.mkString(", ")}: inferred $inferred, opened $opened")
    }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val was = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tempDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally scala.util.Using(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)))
  }

  /** Jobs started by `body` on this thread. */
  private def jobsOf(body: => Any): Int = {
    val jobs = new IsoBench.Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      jobs.tagged(spark.sparkContext, "body")(body)
      jobs.sync(spark.sparkContext)
      jobs.take("body")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"open reports Spark's inferred schema for every table at $scale") {
      for (t <- tables; nanos <- Seq("true", "false"))
        withConf("spark.sql.legacy.parquet.nanosAsLong", nanos)(sameSchema(s"${sf(scale)}/$t.parquet"))
    }

  test("open reports Spark's inferred schema for dirs Spark wrote") {
    import spark.implicits._
    tempDir("graft_open") { dir =>
      val parts = s"$dir/parts"
      spark.range(0, 200, 1, 4)
        .selectExpr("id", "cast(id % 7 as int) as k", "array(id, id + 1) as arr",
          "named_struct('a', id, 'b', cast(id as string)) as st", "map(id, 1.5d) as m",
          "cast(id as decimal(12, 2)) as dec", "timestamp_micros(id) as ts", "date'2024-01-02' as d",
          "cast(cast(id as string) as binary) as bin")
        .write.parquet(parts)
      assert(Files.list(Path.of(parts)).iterator.asScala.count(_.toString.endsWith(".parquet")) > 1)
      sameSchema(parts)

      // parts of two schemas in one dir: both reads take the first file by path
      val mixed = s"$dir/mixed"
      Seq((1L, "x")).toDF("a", "b").write.parquet(mixed)
      Seq((2L, 3.0)).toDF("a", "c").write.mode("append").parquet(mixed)
      sameSchema(mixed)

      val keyed = s"$dir/keyed"
      spark.range(0, 60, 1, 3).selectExpr("id", "id % 3 as b", "id % 2 as n")
        .write.partitionBy("b", "n").parquet(keyed)
      sameSchema(keyed)
      sameSchema(parts, mixed)

      val empty = s"$dir/empty"
      Files.createDirectories(Path.of(empty))
      sameSchema(empty)
      sameSchema(s"$dir/missing")
    }
  }

  test("opening a table runs no Spark job") {
    assert(jobsOf(Tables.open(spark, s"${sf()}/documents.parquet").schema) == 0)
    assert(jobsOf(spark.read.parquet(s"${sf()}/documents.parquet").schema) > 0)
  }

  test("menu_etl's nine queries run no Spark job in their construction call") {
    val jobs = menuEtl.map(q => q -> jobsOf(SparkEntry.queries(q)(spark, sf()))).filter(_._2 != 0)
    assert(jobs.isEmpty, jobs)
  }
}
