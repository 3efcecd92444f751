package graft

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Shims

/** Loaders for the synthetic TPC-H-ish corpus (see TESTDATA.md), and
  * [[open]], graft's one parquet opener.
  *
  * An open runs no Spark job: the schema comes from one parquet footer
  * read on the driver, so construction never pays Spark's
  * footer-reading inference job. Columns are pruned and predicates
  * pushed at the parquet scan by Catalyst as long as callers stay
  * declarative — these helpers do nothing but point at the files, so
  * every downstream `.select`/`.filter` reaches the scan.
  */
object Tables {
  /** `spark.read.parquet(paths)` with the schema Spark would infer,
    * read without a job: the footer of the one file Spark's own
    * inference reads when `mergeSchema` is off (a `_common_metadata`,
    * else a `_metadata` summary, else the first data file by path over
    * the files Spark lists), converted by Spark's own footer converter
    * under the session's current SQLConf. Partition columns of a
    * `k=v` dir are still discovered by the read itself. With
    * `mergeSchema` on, or no file to read, this is the plain read, so
    * Spark's own inference or error stays.
    */
  def open(spark: SparkSession, paths: String*): DataFrame = {
    val conf = Shims.sqlConf(spark)
    val hadoop = spark.sparkContext.hadoopConfiguration
    val file = if (conf.isParquetSchemaMergingEnabled) None else schemaFile(paths, hadoop)
    file.fold(spark.read.parquet(paths: _*)) { f =>
      val options = HadoopReadOptions.builder(hadoop, f.getPath)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val meta = Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoop), options))(_.getFooter)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(conf))
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Spark's file-listing rule: names starting `_` (but not `k=v`
    * dirs) or `.` are skipped, summary files kept.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  private def schemaFile(paths: Seq[String], conf: Configuration): Option[FileStatus] = {
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else s.getPath.getFileSystem(conf).listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val files = paths.map(new Path(_))
      .flatMap(p => Option(p.getFileSystem(conf).globStatus(p)).toSeq.flatten)
      .flatMap(leaves).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata")).orElse(files.find { f =>
      val n = f.getPath.getName
      n != "_common_metadata" && n != "_metadata"
    })
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    open(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet carries TIMESTAMP(NANOS), which Spark handles
    * differently across 4.x point releases: some reject it from the
    * vectorized reader unless `nanosAsLong` maps it to Long, newer
    * ones read it natively as TIMESTAMP_NTZ truncated to micros.
    * Branch on the schema Spark actually produced and normalize both
    * to a session-TZ (UTC) TimestampType at microsecond precision —
    * identical values either way (integer DIV, never a double
    * division, which would round ns-epoch values to multiples of
    * 256ns; the NTZ cast is wall-clock-preserving under the UTC
    * session TZ every entry point pins).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
