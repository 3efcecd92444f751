package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated KNESER-NEY bigram smoothing (Kneser & Ney 1995; the
  * interpolated form and d = 0.75 after Chen & Goodman 1998's
  * empirical study) — the smoothing the KenLM models used by
  * CCNet-style quality gates actually ship, upgrading [[BigramLm]]'s
  * raw conditional counts:
  *
  *   P_KN(w2|w1) = max(c(w1 w2) − d, 0) / c(w1 ·)
  *               + (d · N1+(w1 ·) / c(w1 ·)) · (N1+(· w2) / B)
  *
  * The signature Kneser-Ney move is the CONTINUATION probability:
  * the backoff weight of w2 is not its frequency but how many
  * DISTINCT left contexts it follows (N1+(· w2)) over the distinct-
  * bigram total B — "Francisco" is frequent but only ever follows
  * "San", so it backs off near zero while genuinely promiscuous
  * words keep mass. Interpolated KN is exactly normalized:
  * Σ_w2 P_KN(w2|w1) = 1 (the discount d·N1+(w1·)/c(w1·) released on
  * the seen mass equals what the continuation term redistributes —
  * KneserNeySpec asserts the identity to the last ulp).
  *
  * Every model statistic is an exact integer (c12, c1, N1+ forward/
  * backward, B), so the q152 oracle hash-checks them all; p_kn is
  * the one double, produced by an identical parenthesized chain on
  * both engines (the q127 mirrored-double discipline).
  *
  * Scale shape (the q113 PMI contract): ONE corpus explode feeds the
  * (w1, w2) count aggregate behind a map-side partial; the three
  * model statistics are vocab-scale RE-aggregations of that same
  * bigram table (AQE stage reuse executes the explode once), B rides
  * a one-row broadcast cross join, and the final assembly joins at
  * bigram-vocab scale — the corpus is never shuffled raw and the
  * model at 100 TB stays the canonical aggregate-before-join LM
  * shape.
  */
object KneserNey {

  val Discount = 0.75

  /** Corpus bigram occurrence counts (w1, w2, c12) — adjacent-pair
    * explode collapsed map-side.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextFunctions.tokens(lower(col(textCol))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))

  /** The smoothed-probability column from the assembled statistics —
    * one explicit parenthesization, mirrored verbatim in the oracle.
    */
  def pknExpr(c12: Column, c1: Column, n1f: Column, n1b: Column, bTotal: Column): Column =
    greatest(c12.cast("double") - lit(Discount), lit(0.0)) / c1.cast("double") +
      ((lit(Discount) * n1f.cast("double")) / c1.cast("double")) *
        (n1b.cast("double") / bTotal.cast("double"))

  /** Full model table: (w1, w2, c12, c1, n1f, n1b, b_total, p_kn)
    * for every seen bigram. `minCount` trims the long tail for
    * presentation; statistics are always computed over the UNTRIMMED
    * table (trimming before counting would corrupt the continuation
    * statistics).
    */
  def model(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    // r18 (guide §2.4): the bigram type table feeds FOUR consumers
    // (itself, c1, n1b, b). Lazy, each re-inlines the corpus explode+
    // aggregate — AQE stage reuse does not fire across the broadcast
    // builds (r18 measured). One eager boundary runs the corpus pass
    // once; the boundary is the MODEL table (bigram-type scale) — the
    // artifact a production LM pipeline persists anyway.
    val bg = graft.Exec.scoped(_.cut(bigramCounts(docs, textCol)))
    val c1 = bg.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val n1b = bg.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val b = bg.agg(count(lit(1)).as("b_total"))
    bg.join(c1, "w1").join(n1b, "w2").crossJoin(broadcast(b))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1f"),
        col("n1b"), col("b_total"),
        pknExpr(col("c12"), col("c1"), col("n1f"), col("n1b"), col("b_total")).as("p_kn"))
  }

  /** Probability of an UNSEEN bigram under the model: pure backoff,
    * max(0−d,0)=0 so only the continuation term survives. Library
    * face for scoring rows the model table has no entry for.
    */
  def unseenExpr(c1: Column, n1f: Column, n1b: Column, bTotal: Column): Column =
    ((lit(Discount) * n1f.cast("double")) / c1.cast("double")) *
      (n1b.cast("double") / bTotal.cast("double"))

  // ------------------------------------------------------------ trigram
  /** Corpus trigram occurrence counts (w1, w2, w3, c123). */
  def trigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextFunctions.tokens(lower(col(textCol))).as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(zip_with(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 2),
          slice(col("t"), lit(2), size(col("t")) - 2),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(col("t"), lit(3), size(col("t")) - 2),
        (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"), c.as("w3"))))
        .as("tg"))
      .select(col("tg.w1").as("w1"), col("tg.w2").as("w2"), col("tg.w3").as("w3"))
      .filter(col("w1").isNotNull && col("w2").isNotNull && col("w3").isNotNull)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))

  /** The full interpolated trigram chain — every lower-order
    * distribution is a CONTINUATION distribution over the trigram
    * type table (Chen & Goodman's interpolated KN, one discount per
    * level, d = 0.75 throughout), one explicit parenthesization:
    *
    *   p1 = N1+(·w3) / N1+(··)
    *   p2 = max(N1+(·w2w3) − d, 0)/N1+(·w2·) + (d·N1+(w2·)/N1+(·w2·))·p1
    *   p3 = max(c123 − d, 0)/c12·      + (d·N1+(w1w2·)/c12·)·p2
    *
    * Exactly normalized at every level (KneserNeySpec asserts
    * Σ_w3 p3(w3|w1,w2) = 1 to the last ulp).
    */
  def pkn3Expr(c123: Column, c12: Column, n3f: Column,
               mnum: Column, mden: Column, mf: Column,
               unum: Column, uden: Column): Column = {
    val p1 = unum.cast("double") / uden.cast("double")
    val p2 = greatest(mnum.cast("double") - lit(Discount), lit(0.0)) / mden.cast("double") +
      ((lit(Discount) * mf.cast("double")) / mden.cast("double")) * p1
    greatest(c123.cast("double") - lit(Discount), lit(0.0)) / c12.cast("double") +
      ((lit(Discount) * n3f.cast("double")) / c12.cast("double")) * p2
  }

  /** Trigram model table: every statistic derives from the trigram
    * TYPE table alone (self-consistent closed world, the standard
    * treatment when no external model ships): c12 = c(w1w2·),
    * n3f = N1+(w1w2·), mnum = N1+(·w2w3), mden = N1+(·w2·),
    * mf = N1+(w2·) (distinct w3 types after w2), unum = N1+(·w3),
    * uden = N1+(··) — all exact integers in the oracle hash; p_kn3
    * is the one mirrored double chain. Plan: one corpus explode →
    * trigram HashAggregate pair; everything else re-aggregates that
    * table or its (w2, w3) type marginal (AQE stage reuse), with the
    * scalar N1+(··) on a broadcast cross join.
    */
  def trigramModel(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    // r18 (guide §2.4): tg feeds ctx + the assembly join, and its
    // (w2,w3) marginal `mid` feeds THREE consumers — both eagerly
    // materialized once (type-table scale), so the corpus trigram
    // explode runs once instead of once per consumer.
    val (tg, mid) = graft.Exec.scoped { b =>
      val tg = b.cut(trigramCounts(docs, textCol))
      (tg, b.cut(tg.groupBy("w2", "w3").agg(count(lit(1)).as("mnum"))))
    }
    val ctx = tg.groupBy("w1", "w2").agg(sum("c123").as("c12"), count(lit(1)).as("n3f"))
    val midCtx = mid.groupBy("w2").agg(sum("mnum").as("mden"), count(lit(1)).as("mf"))
    val uni = mid.groupBy("w3").agg(count(lit(1)).as("unum"))
    val total = mid.agg(count(lit(1)).as("uden"))
    tg.join(ctx, Seq("w1", "w2")).join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2")).join(uni, Seq("w3"))
      .crossJoin(broadcast(total))
      .filter(col("c123") >= minCount)
      .select(col("w1"), col("w2"), col("w3"), col("c123"), col("c12"), col("n3f"),
        col("mnum"), col("mden"), col("mf"), col("unum"), col("uden"),
        pkn3Expr(col("c123"), col("c12"), col("n3f"), col("mnum"), col("mden"),
          col("mf"), col("unum"), col("uden")).as("p_kn3"))
  }
}
