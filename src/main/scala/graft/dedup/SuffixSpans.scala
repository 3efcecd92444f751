package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT duplicated-span detection via a (truncated) SUFFIX ARRAY —
  * the exact tier of q71's hashed-window span dedup, and the method
  * the published substring-dedup work actually uses (Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", ACL
  * 2022: build a suffix array over the corpus, duplicated spans are
  * runs of adjacent suffixes with long common prefixes). q71 hashes
  * 60-bit windows (collision-probabilistic, fixed width); this sorts
  * the actual suffixes, so a flagged span is a REAL duplicate by
  * construction and the neighbor LCP measures its exact length.
  *
  * TRUNCATED-KEY variant: suffixes compare by their first `k` (48)
  * characters — sort keys are fixed-width (the property that makes a
  * distributed range sort of 100 TB of positions feasible at all),
  * and any duplicate span of length ∈ [minSpan, k] is detected
  * exactly (longer duplicates still flag; only their measured LCP
  * saturates at k). Detection is ADJACENT-NEIGHBOR: a position flags
  * iff its rank-neighbor in suffix order shares ≥ `minSpan` leading
  * characters — the standard SA-dedup criterion (equal spans sort
  * adjacent, so every duplicated span ≥ minSpan flags; the cross-doc
  * flag is a lower bound when a same-doc twin sorts between two
  * cross-doc twins).
  *
  * Scale shape: positions explode map-side (one row per character,
  * fixed-width key — at 100 TB this is the method's published cost
  * and strides/sampling bound it); the global suffix ORDER is ONE
  * distributed range sort, and neighbor LCPs are computed
  * PARTITION-LOCALLY in a single sliding pass over the sorted
  * partitions — after the sort, every neighbor pair except the
  * numPartitions partition boundaries is already adjacent in one
  * task, and the boundary rows travel as a numPartitions-sized
  * driver collect folded back in as broadcast carries (r14d; this
  * replaced zipWithIndex + two rank-keyed self-joins, which paid
  * two extra positions-scale exchanges to rediscover adjacency the
  * sort had already established). The LCP itself is a
  * short-circuiting JVM char loop capped by both key lengths, so
  * equal SHORT suffixes do not overcount. No window over the global
  * order (a bare ORDER BY window would funnel the corpus through
  * one task).
  */
object SuffixSpans {

  /** Positions frames up to this estimated size are cached before the
    * range sort (see [[cachePositions]]).
    */
  private val PositionsCacheMaxBytes = 8L << 30

  /** Cache the exploded positions frame before the range sort IFF its
    * estimated size fits [[PositionsCacheMaxBytes]]: the
    * RangePartitioner's sampling job otherwise re-executes the whole
    * explode+substring subtree before the real shuffle map stage runs
    * it a second time (guide §1.2 — measured −37% on q188 at sf0.1).
    * Above the threshold the recompute is the RIGHT call —
    * materializing a positions-scale (≈ corpus-size × k) intermediate
    * to executor disk at 100 TB costs more than the map-only second
    * pass — so the gate keeps the at-scale behavior while the
    * bench-scale run takes the cached path.
    */
  private def cachePositions(pos: DataFrame, scope: graft.Exec.Scope): Unit =
    if (pos.queryExecution.optimizedPlan.stats.sizeInBytes <= PositionsCacheMaxBytes) {
      scope.cache(pos)
      ()
    }

  /** Per-document duplicated-span statistics: (doc_id, n_positions,
    * n_dup_pos, n_dup_cross, max_lcp, max_lcp_cross) — positions
    * whose suffix-order neighbor shares ≥ `minSpan` chars (any
    * neighbor / a neighbor from a DIFFERENT document), and the
    * longest observed neighbor LCPs.
    */
  def docStats(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 48, minSpan: Int = 20): DataFrame = {
    // the doc-scale result is cut once; the scope then releases the
    // cached positions-scale suffix order
    graft.Exec.scoped(b => b.cut(buildPlan(docs, idCol, textCol, k, minSpan, b)))
  }

  /** The operator tree: the doc-stats aggregate reading the
    * suffix-ordered position RDD, cached in `scope`. Neighbor LCPs are computed
    * PARTITION-LOCALLY in one sliding pass (r14d — this replaced the
    * original zipWithIndex + two rank-keyed self-joins: the global
    * rank existed only to find neighbors, but after the range sort
    * every neighbor pair except the numPartitions partition
    * boundaries is already adjacent in one task; the boundary rows
    * travel to the driver as a numPartitions-sized collect and come
    * back as broadcast carries — the contamination() offsets
    * technique). The LCP itself is the short-circuiting JVM kernel,
    * not a Column fold (a fold evaluates all k steps with a substring
    * allocation each; random suffix pairs mismatch within a few
    * chars). Cuts the positions-scale exchanges from three (rank
    * assignment + two joins) to one (the range sort itself).
    */
  private[graft] def buildPlan(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, minSpan: Int, scope: graft.Exec.Scope): DataFrame = {
    require(k >= 1 && minSpan >= 1 && minSpan <= k,
      s"need 1 <= minSpan <= k, got k=$k minSpan=$minSpan")
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= 1) // sequence(1,0) would DESCEND, not empty
      .select(col("id"), explode(sequence(lit(1), length(col("t")))).as("p"), col("t"))
      .select(col("id"), col("p"), expr(s"substring(t, p, $k)").as("key"))
    // r17: size-gated positions cache (see cachePositions), in its own
    // scope — released right after the sorted RDD materializes
    val (sorted, bounds) = graft.Exec.scoped { posScope =>
      cachePositions(pos, posScope)
      val sorted = scope.cache(pos
        .repartitionByRange(col("key"), col("id"), col("p"))
        .sortWithinPartitions(col("key"), col("id"), col("p"))
        .as[(Long, Int, String)].rdd)
      // per-partition FIRST and LAST (id, key) — numPartitions rows to
      // the driver, never data
      (sorted, sorted.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val f = it.next(); var l = f
          while (it.hasNext) l = it.next()
          Iterator((pid, (f._1, f._3), (l._1, l._3)))
        }
      }.collect().sortBy(_._1))
    }
    val nParts = sorted.getNumPartitions
    // carry(prevOf)(pid) = last row of the nearest earlier non-empty
    // partition; nextOf symmetric (RangePartitioner can leave holes)
    val prevOf = new Array[(Long, String)](nParts)
    val nextOf = new Array[(Long, String)](nParts)
    var acc: (Long, String) = (-1L, null)
    var bi = 0
    for (pid <- 0 until nParts) {
      prevOf(pid) = acc
      if (bi < bounds.length && bounds(bi)._1 == pid) { acc = bounds(bi)._3; bi += 1 }
    }
    acc = (-1L, null); bi = bounds.length - 1
    for (pid <- (nParts - 1) to 0 by -1) {
      nextOf(pid) = acc
      if (bi >= 0 && bounds(bi)._1 == pid) { acc = bounds(bi)._2; bi -= 1 }
    }
    val bcPrev = spark.sparkContext.broadcast(prevOf)
    val bcNext = spark.sparkContext.broadcast(nextOf)

    val perPos = sorted.mapPartitionsWithIndex { (pid, it) =>
      // capped by both lengths — two equal short keys have LCP =
      // their length, not k
      def lcp(a: String, b: String): Int =
        if (b == null) 0
        else {
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n && a.charAt(i) == b.charAt(i)) i += 1
          i
        }
      val buf = it.buffered
      var prev = bcPrev.value(pid)
      val carryNext = bcNext.value(pid)
      new Iterator[(Long, Int, Long, Int, Long)] {
        def hasNext: Boolean = buf.hasNext
        def next(): (Long, Int, Long, Int, Long) = {
          val (id, _, key) = buf.next()
          val nxt = if (buf.hasNext) { val h = buf.head; (h._1, h._3) } else carryNext
          val out = (id, lcp(key, prev._2), prev._1, lcp(key, nxt._2), nxt._1)
          prev = (id, key)
          out
        }
      }
    }.toDF("id", "lcp_prev", "id_prev", "lcp_next", "id_next")

    val crossPrev = when(col("id_prev") =!= col("id"), col("lcp_prev")).otherwise(0)
    val crossNext = when(col("id_next") =!= col("id"), col("lcp_next")).otherwise(0)
    perPos.groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("lcp_prev") >= minSpan || col("lcp_next") >= minSpan, 1L)
          .otherwise(0L)).as("n_dup_pos"),
        sum(when(crossPrev >= minSpan || crossNext >= minSpan, 1L)
          .otherwise(0L)).as("n_dup_cross"),
        max(greatest(col("lcp_prev"), col("lcp_next"))).cast("long").as("max_lcp"),
        max(greatest(crossPrev, crossNext)).cast("long").as("max_lcp_cross"))
  }

  /** EXACT CROSS-CORPUS SUBSTRING CONTAMINATION — the decontamination
    * deployment of the suffix machinery (the GPT-3/Lee-et-al. eval
    * hygiene step q51 approximates with hashed n-grams): for every
    * EVAL document, does any ≥ `minSpan`-char span of it appear
    * verbatim ANYWHERE in the train corpus? Exact within the k-char
    * key truncation, because in suffix order the maximum LCP between
    * an eval suffix and ANY train suffix is attained at the rank-
    * NEAREST train suffix (LCP is min-decreasing along the sorted
    * order) — so each eval position needs only its nearest train
    * suffix above and below, not a quadratic comparison. Unlike
    * [[docStats]]' adjacent-neighbor lower bound, this is the exact
    * side-aware criterion: runs of eval suffixes cannot mask a train
    * match.
    *
    * Nearest-train lookup WITHOUT a global window funnel: rows are
    * range-partitioned by rank and scanned with PARTITION-LOCAL
    * ignore-null last/first windows; partition-boundary carries (the
    * last/first train key of every partition) are one numPartitions-
    * sized driver collect folded into case-when columns — the
    * ksTestCounts offsets technique, never a data collect.
    *
    * `docs` carries BOTH corpora with an `is_train` flag; ids must be
    * unique across the union (they tie-break the suffix order).
    * Output, per EVAL document: (doc_id, n_positions, n_contaminated,
    * max_train_lcp).
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    trainCol: String, k: Int = 48, minSpan: Int = 20,
                    gapBufferRows: Int = 1 << 18): DataFrame = {
    require(k >= 1 && minSpan >= 1 && minSpan <= k,
      s"need 1 <= minSpan <= k, got k=$k minSpan=$minSpan")
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"),
        col(trainCol).cast("boolean").as("tr"))
      .filter(length(col("t")) >= 1)
      .select(col("id"), col("tr"),
        explode(sequence(lit(1), length(col("t")))).as("p"), col("t"))
      .select(col("id"), col("tr"), col("p"), expr(s"substring(t, p, $k)").as("key"))
    // Nearest-train lookup WITHOUT a rank, a window, or any second
    // exchange (r14d — the q188 sliding-pass shape): after the range
    // sort, the nearest train suffix above/below every eval position
    // lives in the SAME task except across the numPartitions
    // partition boundaries, whose first/last train keys travel to the
    // driver as a numPartitions-sized collect and come back as
    // broadcast carries. One forward scan (running last-train-key)
    // and one backward scan over the buffered partition replace the
    // two window sorts the previous shape paid, and the _pid exchange
    // disappears entirely.
    graft.Exec.scoped { b =>
      // r17: size-gated positions cache (see cachePositions), in its own
      // scope — released right after the sorted RDD materializes
      val (sorted, bounds) = graft.Exec.scoped { posScope =>
        cachePositions(pos, posScope)
        val sorted = b.cache(pos
          .repartitionByRange(col("key"), col("id"), col("p"))
          .sortWithinPartitions(col("key"), col("id"), col("p"))
          .as[(Long, Boolean, Int, String)].rdd)
        // per-partition first/last TRAIN key — numPartitions rows to the
        // driver, never data
        (sorted, sorted.mapPartitionsWithIndex { (pid, it) =>
          var first: String = null
          var last: String = null
          while (it.hasNext) {
            val r = it.next()
            if (r._2) { if (first == null) first = r._4; last = r._4 }
          }
          if (first == null) Iterator.empty else Iterator((pid, first, last))
        }.collect().sortBy(_._1))
      }
      val nParts = sorted.getNumPartitions
      val before = new Array[String](nParts)
      val after = new Array[String](nParts)
      var acc: String = null
      var bi = 0
      for (pid <- 0 until nParts) {
        before(pid) = acc
        if (bi < bounds.length && bounds(bi)._1 == pid) { acc = bounds(bi)._3; bi += 1 }
      }
      acc = null; bi = bounds.length - 1
      for (pid <- (nParts - 1) to 0 by -1) {
        after(pid) = acc
        if (bi >= 0 && bounds(bi)._1 == pid) { acc = bounds(bi)._2; bi -= 1 }
      }
      val bcBefore = spark.sparkContext.broadcast(before)
      val bcAfter = spark.sparkContext.broadcast(after)

      // LCP as a short-circuiting JVM kernel, not a Column fold (a
      // fold evaluates all k steps with a substring allocation each;
      // random suffix pairs mismatch within a few chars). The ORACLE
      // keeps its list_reduce form — same VALUES, different engine.
      //
      // MEMORY-BOUNDED single pass (r15, ADVICE: the r14d shape
      // buffered the whole sorted partition on-heap for the backward
      // nearest-train-after scan — an OOM at real suffix-partition
      // sizes). Key structural fact: between two consecutive TRAIN
      // suffixes, every eval row shares the same nearest-train-after
      // (the train key that CLOSES the gap) and the same
      // nearest-train-before (the key that opened it, already known
      // when the row streams past). So only the CURRENT GAP's eval
      // rows need retaining — each with its before-side LCP already
      // folded in — and a gap that outgrows `gapBufferRows` spills to
      // local disk (executor scratch, the shuffle-spill discipline),
      // never the heap. Worst case (a partition with no train rows)
      // degrades to one sequential spill file, not an OOM.
      val evalRows = sorted.mapPartitionsWithIndex { (pid, it) =>
        def lcp(a: String, b: String): Int =
          if (b == null) 0
          else {
            val n = math.min(a.length, b.length)
            var i = 0
            while (i < n && a.charAt(i) == b.charAt(i)) i += 1
            i
          }
        new GapScanIterator(it, bcBefore.value(pid), bcAfter.value(pid),
          gapBufferRows, lcp)
      }.toDF("id", "_l")
      b.cut(evalRows.groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_positions"),
          sum(when(col("_l") >= minSpan, 1L).otherwise(0L)).as("n_contaminated"),
          max(col("_l")).cast("long").as("max_train_lcp")))
    }
  }
}

/** Streaming nearest-train scan over ONE sorted suffix partition
  * (rows: (id, isTrain, pos, key)) with bounded memory: eval rows
  * accumulate per train-free gap — before-side LCP pre-folded, since
  * the gap-opening train key is already known — and resolve against
  * the train key that closes the gap (or the partition's after-carry
  * at exhaustion). Gaps past `capRows` spill to a local temp file in
  * (id, lcpBefore, key) records; drain streams the spill back before
  * the in-memory tail. Emits (eval id, max(lcpBefore, lcpAfter)).
  */
private[dedup] final class GapScanIterator(
    rows: Iterator[(Long, Boolean, Int, String)],
    beforeCarry: String, afterCarry: String,
    capRows: Int, lcp: (String, String) => Int)
  extends Iterator[(Long, Int)] {

  private var kb = beforeCarry
  private var done = false
  private var cur: Iterator[(Long, Int)] = Iterator.empty

  // ---- gap buffer: in-memory up to capRows, then a local spill file
  private val memIds = new scala.collection.mutable.ArrayBuffer[Long]()
  private val memLb = new scala.collection.mutable.ArrayBuffer[Int]()
  private val memKeys = new scala.collection.mutable.ArrayBuffer[String]()
  private var spillFile: java.io.File = null
  private var spillOut: java.io.DataOutputStream = null
  private var spilled = 0L
  // the spill file currently being read back (at most one at a time:
  // the outer loop never opens a new gap while a drain is in flight)
  private var openIn: java.io.DataInputStream = null
  private var openInFile: java.io.File = null

  /** Close + delete whatever spill state is still open. Idempotent.
    * Wired to the task completion listener so an abandoned iterator
    * (task kill, LIMIT) releases its stream and file immediately —
    * the old deleteOnExit path accumulated one JVM-lifetime entry per
    * spilled gap and leaked partially-consumed reads until exit.
    */
  private def closeSpills(): Unit = {
    if (spillOut != null) { try spillOut.close() catch { case _: java.io.IOException => () }; spillOut = null }
    if (spillFile != null) { spillFile.delete(); spillFile = null }
    if (openIn != null) { try openIn.close() catch { case _: java.io.IOException => () }; openIn = null }
    if (openInFile != null) { openInFile.delete(); openInFile = null }
  }
  locally {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeSpills())
  }
  // With no TaskContext (driver-side / plain-iterator use, as in unit
  // tests) there is no completion listener: fall back to a JVM-exit
  // deleteOnExit backstop so an abandoned partially-drained iterator
  // can't leak its spill file for the process lifetime.
  private val exitBackstop = org.apache.spark.TaskContext.get() == null
  private def registerBackstop(f: java.io.File): Unit =
    if (exitBackstop) f.deleteOnExit()

  /** Spill directory: the first entry of spark.local.dir when an
    * executor env is live (the disk Spark already sizes for shuffle
    * scratch), else java.io.tmpdir (plain unit tests).
    */
  private def spillDir(): java.io.File = {
    val base = Option(org.apache.spark.SparkEnv.get)
      .flatMap(e => e.conf.getOption("spark.local.dir"))
      .map(_.split(",")(0).trim)
      .filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val d = new java.io.File(base)
    d.mkdirs()
    d
  }

  private def add(id: Long, key: String): Unit = {
    val lb = lcp(key, kb)
    if (memIds.length >= capRows) {
      if (spillOut == null) {
        spillFile = java.io.File.createTempFile("graft-suffix-gap", ".bin", spillDir())
        registerBackstop(spillFile)
        spillOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(spillFile), 1 << 16))
      }
      spillOut.writeLong(id); spillOut.writeInt(lb); spillOut.writeUTF(key)
      spilled += 1
    } else { memIds += id; memLb += lb; memKeys += key }
  }

  /** Resolve the open gap against the train key that closed it (null
    * = no train suffix follows in this partition or any later one).
    */
  private def drain(nextTrain: String): Iterator[(Long, Int)] = {
    val fromSpill: Iterator[(Long, Int)] =
      if (spillOut == null) Iterator.empty
      else {
        spillOut.close(); spillOut = null
        val f = spillFile; spillFile = null
        val n = spilled; spilled = 0L
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f), 1 << 16))
        openIn = in; openInFile = f
        new Iterator[(Long, Int)] {
          private var i = 0L
          def hasNext: Boolean = i < n
          def next(): (Long, Int) = {
            val id = in.readLong(); val lb = in.readInt(); val key = in.readUTF()
            i += 1
            if (i == n) {
              in.close(); f.delete()
              if (openIn eq in) { openIn = null; openInFile = null }
            }
            (id, math.max(lb, lcp(key, nextTrain)))
          }
        }
      }
    // eager resolve of the in-memory tail: one tight loop into one
    // array (the tuples are the output either way), no buffer copies,
    // no closure per gap — gaps are typically tiny and very frequent
    // (every train suffix closes one), so per-gap constant cost is
    // the hot path
    val n = memIds.length
    if (n == 0) fromSpill
    else {
      val outArr = new Array[(Long, Int)](n)
      var i = 0
      while (i < n) {
        outArr(i) = (memIds(i), math.max(memLb(i), lcp(memKeys(i), nextTrain)))
        i += 1
      }
      memIds.clear(); memLb.clear(); memKeys.clear()
      if (spilled == 0L && !fromSpill.hasNext) outArr.iterator
      else fromSpill ++ outArr.iterator
    }
  }

  private def advance(): Unit = {
    while (!cur.hasNext && !done) {
      if (!rows.hasNext) { cur = drain(afterCarry); done = true }
      else {
        val r = rows.next()
        if (r._2) { cur = drain(r._4); kb = r._4 }
        else add(r._1, r._4)
      }
    }
  }

  override def hasNext: Boolean = { advance(); cur.hasNext }
  override def next(): (Long, Int) = { advance(); cur.next() }
}
