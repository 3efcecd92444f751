package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 relevance ranking — batch retrieval over a tokenized corpus
  * (the scoring backbone of retrieval-based decontamination, nearest-
  * document audits, and query-driven corpus slicing).
  *
  * Scoring follows the BM25 shape — per-term saturated tf weighting
  * `tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` times an inverse
  * document frequency — with ONE deliberate deviation: the idf is the
  * Robertson ODDS RATIO `(N − df + 0.5)/(df + 0.5)` itself, not its
  * logarithm. Rationale: every score stays a composition of IEEE
  * double ring operations (+ × ÷), so an independent SQL engine
  * reproduces it BIT-EXACTLY and the ranking is verifiable end-to-end
  * (ln differs by ulps across libm implementations — the same reason
  * q69 uses squared-hash Bernoulli draws). Per-query ranking
  * semantics are unchanged for single-term queries (x ↦ ln x is
  * monotone); multi-term scores trade off terms by odds rather than
  * log-odds, which WEIGHTS rare terms more strongly — acceptable for
  * the pipeline uses above, and swapping `idf` for `log(idf)` is a
  * one-line change where classic blending is required.
  *
  * Scale shape: tokens explode map-side; (doc, token) counts and doc
  * lengths are map-side-combined aggregates; document frequency is
  * computed ONLY for query terms (semi-joined before the count), so
  * its aggregate is query-sized; corpus stats (N, total tokens) ride
  * a one-row broadcast cross join — NOTHING is collected to the
  * driver. The per-(query, doc) score folds term contributions in
  * token order (deterministic left fold, the q27/q28 dot-product
  * pattern) and top-k ranks with a per-query window over matching
  * docs only.
  */
object Bm25 {

  /** Top-`k` documents per query. `queries` carries (query_id, term)
    * rows, one per query term, terms pre-normalized (lowercase).
    * Output: (query_id, rank, doc_id-named idCol, n_hit_terms,
    * score) for rank ≤ k; only documents containing ≥1 query term
    * are candidates. Ties break on ascending id.
    */
  def topK(docs: DataFrame, queries: DataFrame, k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val terms = docs.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
    // r18 (guide §2.4): ONE postings aggregation shared by every
    // consumer. `tc` feeds doc lengths, document frequency AND the
    // score join; `dl` feeds the corpus stats AND the score join —
    // without a boundary Catalyst re-inlines the corpus
    // explode+aggregate subtree into each (r17 plan audit: 10 parquet
    // scans / 48 exchanges, zero ReusedExchange — the consumers prune
    // different columns, so the exchanges are not canonically equal).
    // Two eager cuts run the corpus-scale work exactly once (the
    // cached/InMemoryRelation form was probed at several times the
    // CPU); at cluster scale each boundary is a scratch-table write.
    // Both cuts are leaves of the returned plan.
    val (tc, dl) = graft.Exec.scoped { b =>
      val tc = b.cut(terms.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("n_term")))
      (tc, b.cut(tc.groupBy(col(idCol)).agg(sum(col("n_term")).as("n_doc_tokens"))))
    }
    // df over the FULL corpus but only for query terms: semi join
    // first so the aggregate is query-vocabulary-sized
    val qTerms = queries.select(col("term")).distinct()
    val dfTbl = tc.join(broadcast(qTerms), col("token") === col("term"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus stats as a one-row broadcast — no driver collect
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum(col("n_doc_tokens")).as("tot_tokens")))

    val tf = col("n_term").cast("double")
    val dlD = col("n_doc_tokens").cast("double")
    val dfD = col("df").cast("double")
    val nd = col("n_docs").cast("double")
    val tot = col("tot_tokens").cast("double")
    // association order mirrored verbatim in the SQL twin: IEEE
    // double + × ÷ are deterministic given identical operand trees
    val idf = (nd - dfD + lit(0.5)) / (dfD + lit(0.5))
    val tfn = (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + (lit(b) * dlD) / (tot / nd)))

    val contrib = broadcast(queries)
      .join(tc, queries("term") === tc("token"))
      .join(dl, Seq(idCol))
      .join(broadcast(dfTbl), "token")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col(idCol), col("token"),
        (idf * tfn).as("contrib"))

    val scored = contrib
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        sort_array(collect_list(struct(col("token"), col("contrib")))).as("cs"))
      .withColumn("score",
        aggregate(col("cs"), lit(0.0), (acc: Column, x: Column) =>
          acc + x.getField("contrib")))
      .drop("cs")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        col("n_hit_terms"), col("score"))
  }
}
