package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the MinHash hot path. The HOF-composed
  * versions (TextFunctions.charShingles + transform/array_min) are
  * correct but allocate a UTF8String per shingle and re-walk arrays
  * per hash function; these compute the same quantities in one tight
  * primitive loop per row, participate in whole-stage codegen
  * (static-call doGenCode), and return unsafe primitive arrays.
  */
object ShingleImpl {
  final val P = 1000000007L

  /** Deterministic splitmix64-derived (a, b) coefficient pairs —
    * single source of truth for MinHash hash functions.
    */
  def coefficients(k: Int, seed: Long): Array[(Long, Long)] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(k) {
      val a = java.lang.Math.floorMod(next(), P - 1) + 1
      val b = java.lang.Math.floorMod(next(), P)
      (a, b)
    }
  }

  /** FNV-1a over the n chars starting at i — no substring allocation. */
  private def shingleHash(s: String, i: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = i
    val end = i + n
    while (j < end) {
      h ^= s.charAt(j).toLong
      h *= 0x100000001b3L
      j += 1
    }
    java.lang.Math.floorMod(h, P)
  }

  /** Sorted distinct hashes of all char n-grams (the verification set). */
  def hashedShingleSet(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    val cnt = s.length - n + 1
    if (cnt <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { hs(i) = shingleHash(s, i, n); i += 1 }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < cnt) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, w))
  }

  private val sigCache = new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[(Long, Long)]]()

  /** k-wide MinHash signature in one pass (no shingle materialization).
    * Empty text → all-P sentinel signature, matching the HOF version's
    * coalesce(array_min, P).
    */
  def minhashSignature(text: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val cs = sigCache.computeIfAbsent((k, seed), _ => coefficients(k, seed))
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, P)
    val s = text.toString
    val cnt = s.length - n + 1
    var i = 0
    while (i < cnt) {
      val base = shingleHash(s, i, n)
      var j = 0
      while (j < k) {
        val h = java.lang.Math.floorMod(cs(j)._1 * base + cs(j)._2, P)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** md5-fold(15 hex chars) mod P of the UTF-8 bytes of `s` — the
    * portable word-shingle hash, bit-identical to
    * `pmod(conv(substring(md5(s), 1, 15), 16, 10), P)`: the first 15
    * hex chars are digest bytes 0..6 plus byte 7's high nibble.
    */
  private def md5FoldModP(s: String, md: java.security.MessageDigest): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    v = (v << 4) | ((d(7) & 0xffL) >>> 4)
    v % P
  }

  /** Sorted distinct md5-fold hashes of all word n-grams — the
    * word-shingle twin of [[hashedShingleSet]] in one compiled loop
    * (the HOF composition evaluates its lambdas interpreted, per
    * element: ~10× slower on the q201 host corpus). Tokenization
    * matches TextFunctions.wordShingles: lowercase, whitespace
    * split, empties dropped, shingles joined with one space.
    */
  def wordShingleBases(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.toLowerCase(java.util.Locale.ROOT)
      .trim.split("\\s+").filter(_.nonEmpty)
    val cnt = toks.length - n + 1
    if (cnt <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](cnt)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      hs(i) = md5FoldModP(sb.toString, md)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < cnt) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, w))
  }

  /** k-wide MinHash signature over a PRE-HASHED base array — the
    * compiled twin of the signatureOfBases HOF composition (whose
    * k·|bases| lambda evaluations run interpreted). Empty bases →
    * all-P sentinel, matching coalesce(array_min, P).
    */
  def minhashOfBases(bases: ArrayData, k: Int, seed: Long): ArrayData = {
    val cs = sigCache.computeIfAbsent((k, seed), _ => coefficients(k, seed))
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, P)
    val n = bases.numElements()
    var i = 0
    while (i < n) {
      val x = bases.getLong(i)
      var j = 0
      while (j < k) {
        val h = (cs(j)._1 * x + cs(j)._2) % P
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Jaccard of two SORTED distinct long arrays via merge — O(n+m),
    * no per-call hash table.
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val la = a.numElements()
    val lb = b.numElements()
    if (la == 0 && lb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (la + lb - inter).toDouble
  }
}

case class HashedShingleSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleImpl.hashedShingleSet(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.hashedShingleSet($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingleSet =
    copy(child = newChild)
}

case class MinHashSignature(child: Expression, n: Int, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleImpl.minhashSignature(v.asInstanceOf[UTF8String], n, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.minhashSignature($c, $n, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

case class WordShingleBases(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleImpl.wordShingleBases(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.wordShingleBases($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingleBases =
    copy(child = newChild)
}

case class MinHashSigOfBases(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleImpl.minhashOfBases(v.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.minhashOfBases($c, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigOfBases =
    copy(child = newChild)
}

case class SortedLongJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleImpl.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ShingleImpl.sortedJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongJaccard =
    copy(left = l, right = r)
}

/** Registration + Column API for the native expressions. */
object ShingleFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("hashed_shingles",
      es => HashedShingleSet(es.head, es(1).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig",
      es => MinHashSignature(es.head, es(1).eval().asInstanceOf[Int],
        es(2).eval().asInstanceOf[Int], es(3).eval() match {
          case i: Int => i.toLong
          case l: Long => l
        }), "scala_udf")
    reg.createOrReplaceTempFunction("sorted_jaccard",
      es => SortedLongJaccard(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("word_bases",
      es => WordShingleBases(es.head, es(1).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig_of_bases",
      es => MinHashSigOfBases(es.head, es(1).eval().asInstanceOf[Int], es(2).eval() match {
        case i: Int => i.toLong
        case l: Long => l
      }), "scala_udf")
  }

  import org.apache.spark.sql.functions.{call_function, lit}

  def hashedShingles(text: Column, n: Int): Column =
    call_function("hashed_shingles", text, lit(n))
  def sortedJaccard(a: Column, b: Column): Column =
    call_function("sorted_jaccard", a, b)
  def wordBases(text: Column, n: Int): Column =
    call_function("word_bases", text, lit(n))
  def sigOfBases(bases: Column, k: Int, seed: Long): Column =
    call_function("minhash_sig_of_bases", bases, lit(k), lit(seed))
}
