package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary trainer — the
  * tokenizer-TRAINING side of the pipeline whose inference side the
  * engine already covers (q20 token counting, q56 token budgets, q68
  * sequence packing all assume a tokenizer exists; this is where one
  * comes from). Classic corpus-level BPE (Sennrich et al. 2016): start
  * from characters, repeatedly merge the globally most frequent
  * adjacent symbol pair, emit the ordered merge table.
  *
  * Scale shape (the 100 TB argument): the ONLY corpus-scale stage is
  * the initial word-frequency aggregation — one explode + groupBy(word)
  * shuffle with map-side partial counts. Every training round after
  * that touches the DISTINCT-WORD table only (vocab-scale, weighted by
  * `cnt`), so round cost is independent of corpus size; the per-round
  * argmax reaches the driver as ONE row via a per-partition top-1
  * (TakeOrderedAndProject — no global sort), the same model-sized
  * driver-touch contract as [[PageRank]]'s per-round scalar. Rounds
  * truncate lineage with a localCheckpoint, the CC/PageRank pattern.
  *
  * Determinism: pre-tokenization keeps `[a-z0-9]+` runs of the
  * lowercased text (ASCII-only symbols, so character splitting and
  * string ordering agree across engines), overlapping pairs all count
  * (standard BPE: "aaa" contributes (a,a) twice), merge application is
  * greedy left-to-right ("aaaa" + (a,a) → [aa, aa]), and count ties
  * break on the lexicographically smallest (lhs, rhs). The q91 oracle
  * replays the full training loop in SQL — k generated CTE layers with
  * a `list_reduce` greedy fold — so the hash match proves every round's
  * argmax AND every greedy re-segmentation, not just the final table.
  *
  * All per-word work is declarative higher-order-function expressions
  * (aggregate/slice/arrays_zip) — no UDFs, no serialization walls.
  */
object BpeTrainer {

  final case class Merge(merge_rank: Long, lhs: String, rhs: String, pair_count: Long)

  /** The greedy left-to-right merge fold as a single expression:
    * aggregate over the symbol array, merging `x` into the
    * accumulator's last element when (last, x) == (lhs, rhs). Merged
    * symbols never re-match within the round (lhs+rhs is strictly
    * longer than lhs), which is exactly greedy non-overlap semantics.
    * CASE branches evaluate sequentially, so the empty-accumulator arm
    * guards the ANSI-mode element_at.
    */
  private def applyMerge(symsCol: String, lhs: String, rhs: String): Column =
    // tokens are [a-z0-9]+ by construction: safe to embed as literals
    expr(
      s"""aggregate($symsCol, CAST(array() AS array<string>),
         |  (acc, x) -> CASE
         |    WHEN size(acc) = 0 THEN array(x)
         |    WHEN element_at(acc, -1) = '$lhs' AND x = '$rhs'
         |      THEN concat(slice(acc, 1, size(acc) - 1), array('$lhs$rhs'))
         |    ELSE concat(acc, array(x)) END)""".stripMargin)

  /** Distinct words of the corpus with frequencies and their initial
    * character segmentation — the one corpus-scale pass.
    */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", split(col("word"), ""))

  /** One round's weighted pair counts + deterministic argmax over a
    * word table — per-partition top-1 (TakeOrderedAndProject), so ONE
    * row reaches the driver.
    */
  private def roundArgmax(words: DataFrame): DataFrame =
    words
      .withColumn("lp", slice(col("syms"), lit(1), size(col("syms")) - 1))
      .withColumn("rp", slice(col("syms"), lit(2), size(col("syms")) - 1))
      .select(explode(arrays_zip(col("lp"), col("rp"))).as("z"), col("cnt"))
      .select(col("z.lp").as("l"), col("z.rp").as("r"), col("cnt"))
      .groupBy("l", "r").agg(sum("cnt").as("c"))
      .orderBy(desc("c"), asc("l"), asc("r"))
      .limit(1)

  /** The round-1 argmax plan (unexecuted) — DumpPlans evidence for the
    * training loop's per-round shape; later rounds reuse it on the
    * checkpointed vocab.
    */
  def round1Plan(df: DataFrame, textCol: String): DataFrame =
    roundArgmax(wordTable(df, textCol))

  /** Train `k` merges over `textCol`. Returns the ordered merge table;
    * stops early if the vocabulary runs out of pairs.
    */
  def train(df: DataFrame, textCol: String, k: Int): Seq[Merge] = {
    require(k >= 1 && k <= 64, "k must be in [1, 64] (driver does one argmax per round)")
    graft.Exec.scoped { b =>
      var words = b.cut(wordTable(df, textCol))
      val out = Vector.newBuilder[Merge]
      var rank = 1
      var exhausted = false
      while (rank <= k && !exhausted) {
        val best = roundArgmax(words).collect() // ONE row: the round's argmax
        if (best.isEmpty) exhausted = true
        else {
          val l = best(0).getString(0); val r = best(0).getString(1)
          val c = best(0).getLong(2)
          out += Merge(rank.toLong, l, r, c)
          // truncate the per-round lineage
          words = b.cut(words.withColumn("syms", applyMerge("syms", l, r)))
          rank += 1
        }
      }
      out.result()
    }
  }

  /** The merge table as a DataFrame (q91's driver-query surface). */
  def merges(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, k).toDF()
  }

  /** Inference side: segment `textCol`'s words with an already-trained
    * merge table (applied in rank order — BPE encode). Map-only at any
    * corpus size; the merge table rides into the plan as k chained
    * fold expressions, no join and no shuffle.
    */
  def segment(df: DataFrame, textCol: String, merges: Seq[Merge],
              outCol: String = "bpe_tokens"): DataFrame = {
    // per-word segmentation via transform over the word array; the
    // k-round fold is built against the lambda-bound word variable
    val foldSql = merges.sortBy(_.merge_rank).foldLeft("split(w, '')") { (acc, m) =>
      s"""aggregate($acc, CAST(array() AS array<string>),
         |  (acc, x) -> CASE
         |    WHEN size(acc) = 0 THEN array(x)
         |    WHEN element_at(acc, -1) = '${m.lhs}' AND x = '${m.rhs}'
         |      THEN concat(slice(acc, 1, size(acc) - 1), array('${m.lhs}${m.rhs}'))
         |    ELSE concat(acc, array(x)) END)""".stripMargin
    }
    df.withColumn(outCol, expr(
      s"flatten(transform(regexp_extract_all(lower($textCol), '[a-z0-9]+', 0), w -> $foldSql))"))
  }

  /** [[segment]] with the per-word fold compiled and MEMOIZED — the
    * production encode path. The declarative fold above re-runs k
    * interpreted lambda levels for EVERY word occurrence (higher-order
    * functions stay outside whole-stage codegen), which is wasteful
    * under a Zipfian corpus where a tiny distinct-word set covers most
    * occurrences. This variant does what every real tokenizer does:
    * a per-partition word→tokens cache, so each DISTINCT word per
    * partition pays the k-merge fold once and every repeat is a hash
    * lookup. Still map-only — no shuffle, no broadcast, cache size is
    * per-partition-vocabulary-bounded. Output is BIT-IDENTICAL to
    * [[segment]] (spec-pinned), so q92's oracle covers both paths.
    */
  def segmentFast(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[Merge], outCol: String = "bpe_tokens"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ms = merges.sortBy(_.merge_rank).map(m => (m.lhs, m.rhs)).toArray
    val word = java.util.regex.Pattern.compile("[a-z0-9]+")
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Array[String]]()
        def encodeWord(w: String): Array[String] = {
          var s = w.split("")
          var i = 0
          while (i < ms.length) {
            val (l, r) = ms(i)
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            var j = 0
            while (j < s.length) {
              if (out.nonEmpty && out.last == l && s(j) == r)
                out(out.length - 1) = l + r
              else out += s(j)
              j += 1
            }
            s = out.toArray
            i += 1
          }
          s
        }
        it.map { case (id, text) =>
          val m = word.matcher(
            if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
          val toks = Seq.newBuilder[String]
          while (m.find()) {
            val w = m.group()
            var enc = cache.get(w)
            if (enc == null) { enc = encodeWord(w); cache.put(w, enc) }
            toks ++= enc
          }
          (id, toks.result())
        }
      }.toDF(idCol, outCol)
  }
}
