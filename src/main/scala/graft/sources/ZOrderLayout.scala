package graft.sources

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) multi-dimensional layout — the data-
  * skipping technique for predicates over TWO dimensions at once,
  * where single-key partitioning (B21) can only serve one: interleave
  * the bits of both dimensions into one z-value, lay the data out in
  * z order, and a 2D box predicate touches only the z-cells its
  * corners span — O(√P) of P cells for a thin slice, instead of ALL
  * partitions when filtering the dimension a linear layout did not
  * sort by. (The technique behind Delta/Iceberg OPTIMIZE ZORDER,
  * re-expressed on plain parquet + hive partitions.)
  *
  * The interleave is the classic 5-step shift-mask bit spread, pure
  * 64-bit integer + ∣ & ≪ arithmetic — codegen'd end to end, no UDF,
  * and reproducible bit-exactly by any SQL engine with the same
  * constants (q88's DuckDB twin mirrors it operator-for-operator).
  * Dimensions are 16-bit (callers pre-bucket wider domains — at
  * corpus scale the dimensions are RANGE-BUCKET RANKS, not raw
  * values, exactly as OPTIMIZE ZORDER uses range ids; 2^16 cells per
  * dim is far finer than any practical file count).
  *
  * Layout: hive-partition by the top `prefixBits` bit-pairs of z
  * (= the interleaved (x, y) high bits, a 2^prefixBits × 2^prefixBits
  * grid), sort within partitions by full z for row-group locality.
  * `boxBuckets` enumerates the grid cells a box intersects with
  * driver-side integer math on the PREFIXES (a 2^prefixBits-bounded
  * product, never data-sized); `readBox` turns that into a partition
  * IN-filter plus the residual dimension predicates — the scan lists
  * only intersecting cells, asserted on scan metrics in
  * ZOrderLayoutSpec.
  */
object ZOrderLayout {

  /** Spread the low 16 bits of `v`, one zero between consecutive
    * bits: bit i → bit 2i.
    */
  def spread16(v: Column): Column = {
    val a = v.bitwiseAND(lit(65535L))                                // 0xFFFF
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(16711935L))  // 0x00FF00FF
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(252645135L)) // 0x0F0F0F0F
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(858993459L)) // 0x33333333
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(1431655765L))        // 0x55555555
  }

  /** 32-bit Morton code of two 16-bit dimensions: x on even bits,
    * y on odd.
    */
  def morton2(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Driver-side twin of `morton2` for bucket enumeration. */
  def mortonLong(x: Long, y: Long): Long = {
    def spread(v0: Long): Long = {
      val a = v0 & 65535L
      val b = (a | (a << 8)) & 16711935L
      val c = (b | (b << 4)) & 252645135L
      val d = (c | (c << 2)) & 858993459L
      (d | (d << 1)) & 1431655765L
    }
    spread(x) | (spread(y) << 1)
  }

  /** The hive-partition cell of a z value: its top `prefixBits`
    * bit-pairs (the interleaved high bits of both dims).
    */
  def zBucket(z: Column, prefixBits: Int): Column =
    shiftright(z, 32 - 2 * prefixBits)

  /** Write `df` z-ordered on two 16-bit integer columns: adds `z`,
    * hive-partitions by `z_bucket` (2^prefixBits × 2^prefixBits
    * grid), sorts within partitions by full z.
    */
  def write(df: DataFrame, xCol: String, yCol: String, dir: String,
            prefixBits: Int = 3): Unit = {
    require(prefixBits >= 1 && prefixBits <= 8, s"prefixBits in [1,8]: $prefixBits")
    val z = morton2(col(xCol), col(yCol))
    df.withColumn("z", z)
      .withColumn("z_bucket", zBucket(col("z"), prefixBits))
      .repartition(col("z_bucket"))
      .sortWithinPartitions(col("z"))
      .write.partitionBy("z_bucket").mode("overwrite").parquet(dir)
  }

  /** Grid cells intersecting the box [x0,x1] × [y0,y1]: driver-side
    * prefix math, at most 2^prefixBits × 2^prefixBits values — never
    * data-sized.
    */
  def boxBuckets(x0: Long, x1: Long, y0: Long, y1: Long, prefixBits: Int): Seq[Long] = {
    require(x0 <= x1 && y0 <= y1, s"empty box: [$x0,$x1]×[$y0,$y1]")
    // z >> 2s drops s interleaved bit-pairs, so a cell's id is the
    // morton code of the two PREFIX values themselves
    val s = 16 - prefixBits
    for {
      xb <- (x0 >> s) to (x1 >> s)
      yb <- (y0 >> s) to (y1 >> s)
    } yield mortonLong(xb, yb)
  }

  /** Rank-bucket BOUNDARIES for a wide-domain numeric column:
    * `(1 << bits) − 1` split points from `approxQuantile`
    * (sketch-sized driver fetch; placement error within `relErr`
    * moves rows between ADJACENT buckets only, which z-locality
    * tolerates by design). The boundaries are a LAYOUT ARTIFACT:
    * persist them next to the data — readers need the same array to
    * translate raw box coordinates into bucket space for `readBox`,
    * and bucket assignment is partition-invariant only GIVEN a fixed
    * array (the quantile sketch itself merges in partition order, so
    * recomputing boundaries under a different partitioning may shift
    * them within relErr).
    */
  def rankBoundaries(df: DataFrame, colName: String, bits: Int,
                     relErr: Double = 0.001): Array[Double] = {
    require(bits >= 1 && bits <= 8, s"bits in [1,8]: $bits")
    val n = 1 << bits
    df.stat.approxQuantile(colName, (1 until n).map(_.toDouble / n).toArray, relErr)
  }

  /** Deterministic bucket assignment against a FIXED boundary array:
    * bucket = #boundaries ≤ v, a map-side codegen'd fold over the
    * ≤ 255-element literal array. Appends `<col>_bucket`.
    */
  def applyBuckets(df: DataFrame, colName: String, bounds: Array[Double]): DataFrame = {
    require(bounds.nonEmpty && bounds.length <= 255, s"1..255 boundaries: ${bounds.length}")
    val arr = array(bounds.map(lit(_)): _*)
    df.withColumn(s"${colName}_bucket",
      size(filter(arr, b => b <= col(colName).cast("double"))).cast("long"))
  }

  /** `rankBoundaries` + `applyBuckets` in one call, for one-shot
    * jobs that do not need to re-read the layout later.
    */
  def rankBuckets(df: DataFrame, colName: String, bits: Int,
                  relErr: Double = 0.001): DataFrame =
    applyBuckets(df, colName, rankBoundaries(df, colName, bits, relErr))

  /** Read the box from a `write` layout: partition IN-filter on the
    * intersecting cells + residual per-dimension predicates. The
    * non-intersecting cells are pruned at partition listing (spec
    * asserts `numPartitions` == boxBuckets size).
    */
  def readBox(spark: SparkSession, dir: String, xCol: String, yCol: String,
              x0: Long, x1: Long, y0: Long, y1: Long, prefixBits: Int = 3): DataFrame =
    Tables.open(spark, dir)
      .filter(col("z_bucket").isin(boxBuckets(x0, x1, y0, y1, prefixBits): _*))
      .filter(col(xCol).between(x0, x1) && col(yCol).between(y0, y1))

  /** End-to-end layout over RAW wide-domain dimensions: compute rank
    * boundaries for both, bucket, z-order on the bucket ranks, and
    * return the two boundary arrays — THE artifact the caller must
    * persist with the layout (readRawBox needs it to translate raw
    * predicates into bucket space).
    */
  def writeRanked(df: DataFrame, xCol: String, yCol: String, dir: String,
                  bits: Int = 8, prefixBits: Int = 3,
                  relErr: Double = 0.001): (Array[Double], Array[Double]) = {
    require(prefixBits <= bits, s"grid ($prefixBits bits) coarser than ranks ($bits)")
    val bx = rankBoundaries(df, xCol, bits, relErr)
    val by = rankBoundaries(df, yCol, bits, relErr)
    // scale bucket ranks into the 16-bit dim domain so the z-cell
    // prefix (the TOP bits) is the rank's own prefix — unscaled
    // low-bit ranks would all share prefix 0 and nothing would prune
    val s = 16 - bits
    val bucketed = applyBuckets(applyBuckets(df, xCol, bx), yCol, by)
      .withColumn(s"${xCol}_rank16", shiftleft(col(s"${xCol}_bucket"), s))
      .withColumn(s"${yCol}_rank16", shiftleft(col(s"${yCol}_bucket"), s))
    write(bucketed, s"${xCol}_rank16", s"${yCol}_rank16", dir, prefixBits)
    (bx, by)
  }

  /** Raw-coordinate box read against a `writeRanked` layout: the raw
    * bounds translate to bucket space with the SAME #boundaries-≤-v
    * rule applyBuckets used (driver-side scalar math over the stored
    * arrays — conservative by construction: a raw bound always lands
    * in the bucket containing it), cells prune via boxBuckets, and
    * the raw per-dimension predicates remain as residual filters.
    */
  def readRawBox(spark: SparkSession, dir: String, xCol: String, yCol: String,
                 x0: Double, x1: Double, y0: Double, y1: Double,
                 boundsX: Array[Double], boundsY: Array[Double],
                 prefixBits: Int = 3): DataFrame = {
    // bits is recoverable from the artifact: |bounds| = 2^bits − 1
    def bitsOf(bounds: Array[Double]): Int =
      java.lang.Integer.numberOfTrailingZeros(bounds.length + 1)
    def rank16(v: Double, bounds: Array[Double]): Long =
      bounds.count(_ <= v).toLong << (16 - bitsOf(bounds))
    val cells = boxBuckets(rank16(x0, boundsX), rank16(x1, boundsX),
      rank16(y0, boundsY), rank16(y1, boundsY), prefixBits)
    Tables.open(spark, dir)
      .filter(col("z_bucket").isin(cells: _*))
      .filter(col(xCol).cast("double").between(x0, x1) &&
        col(yCol).cast("double").between(y0, y1))
  }
}
