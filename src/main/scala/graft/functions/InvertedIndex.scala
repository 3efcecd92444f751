package graft.functions

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted-index construction and serving layout — the persisted
  * artifact behind retrieval (q87 computes BM25's df/tf ad hoc per
  * query batch; a real serving pipeline builds the postings ONCE and
  * reads only the queried terms' slices thereafter). Postings are
  * (term, doc_id, tf) rows plus a term-level stats table (df,
  * total_tf); `save` partitions postings by a term hash bucket so a
  * query-time read of k terms partition-prunes to k buckets instead
  * of scanning the corpus-scale postings — the IvfIndex.save layout
  * argument, applied to text.
  *
  * Build is one explode + one (term, doc) aggregate + one term
  * aggregate — all map-side-combined keyed shuffles; nothing touches
  * the driver. Bucket count is a layout knob: more buckets = finer
  * pruning, more small files (CompactedSink's tradeoff).
  */
object InvertedIndex {

  /** (term, doc_id, tf) postings over whitespace tokens of `textCol`
    * (lowercased). tf = occurrences of term in doc.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** Term-level statistics: document frequency + total term
    * frequency, from the postings (postings-scale agg, not corpus).
    */
  def termStats(post: DataFrame): DataFrame =
    post.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("total_tf"))

  /** Deterministic term bucket (md5-derived, engine-portable). */
  def termBucket(term: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(term), 1, 14), 16, 10).cast("long"), lit(nBuckets.toLong))

  /** Persist the index: postings partitioned by term bucket (a read
    * of k terms prunes to ≤ k buckets), stats unpartitioned
    * (term-vocabulary scale).
    */
  def save(post: DataFrame, dir: String, nBuckets: Int = 64): Unit = {
    post.withColumn("bucket", termBucket(col("term"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    termStats(post).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Read ONLY the named terms' postings from a saved index —
    * partition-prunes to the terms' buckets.
    */
  def readTerms(spark: SparkSession, dir: String, terms: Seq[String],
                nBuckets: Int = 64): DataFrame = {
    val post = Tables.open(spark, s"$dir/postings")
    post.filter(col("bucket").isin(terms.map(t =>
        bucketOf(t, nBuckets)).distinct.map(Long.box): _*))
      .filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf")
  }

  /** Driver-side twin of [[termBucket]] for building prune lists. */
  def bucketOf(term: String, nBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.map("%02x".format(_)).mkString.substring(0, 14)
    java.lang.Math.floorMod(java.lang.Long.parseLong(hex, 16), nBuckets.toLong)
  }
}
