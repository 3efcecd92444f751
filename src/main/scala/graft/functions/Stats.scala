package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution statistics beyond quantiles (q46) and per-column
  * profiling (q50).
  */
object Stats {

  /** Fixed-range equi-width histogram computed entirely in integer
    * space: bucket = ⌊(v − lo)·n / (hi − lo)⌋ over scaled-integer
    * values (cents for money), with underflow collected in bucket −1
    * and overflow in bucket n. One map-side-combined groupBy — a
    * single pass however large the input — and exact, unlike
    * sampling-based histogram sketches. Fixed [lo, hi) keeps it
    * one-pass; when bounds are unknown, q46's quantiles or q50's
    * min/max profile supply them with one extra pass.
    *
    * Output: (bucket, lo_cents, hi_cents, n, sum_cents, min_cents,
    * max_cents) — empty buckets absent (at 100 TB a dense-bucket
    * backfill is a driver-side array_join against `sequence()`, not a
    * data pass).
    */
  /** Exact EQUI-DEPTH histogram: `nBuckets` buckets of near-equal
    * population (sizes differ by at most one — bucket of the rank-r
    * value is ⌊r·b/n⌋), with true min/max/sum per bucket — the
    * histogram query optimizers and data-quality dashboards want
    * when the distribution is skewed and equi-width (above) piles
    * everything into one bar. Two corpus passes: a distributed range
    * sort + `zipWithIndex` contiguous ranks (driver sees only
    * per-partition counts, never data — the SortedNeighborhood rank
    * technique), then one map-side-combined groupBy on the derived
    * bucket id; the total count rides a one-row cross join, so no
    * driver scalar enters the plan. Deterministic under value ties
    * via the caller's tie-break columns; all bucket math is integer
    * (`div`), mirrored bit-for-bit by the oracle's row_number
    * formulation.
    */
  def equiDepthHistogram(df: DataFrame, valueCents: Column, tieBreaks: Seq[Column],
                         nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"need nBuckets > 0, got $nBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    val cols = valueCents.cast("long").as("_v") +:
      tieBreaks.zipWithIndex.map { case (c, i) => c.as(s"_t$i") }
    val orderCols = col("_v") +: tieBreaks.indices.map(i => col(s"_t$i"))
    val ranked = df.select(cols: _*)
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .rdd.zipWithIndex()
      .map { case (row, r) => (row.getLong(0), r) }
      .toDF("_v", "_r")
    val tot = ranked.agg(count(lit(1)).cast("long").as("_n"))
    ranked.crossJoin(tot)
      .withColumn("bucket", expr(s"_r * $nBuckets div _n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("_v")).as("lo_cents"),
        max(col("_v")).as("hi_cents"), sum(col("_v")).as("sum_cents"))
  }

  def equiWidthHistogram(df: DataFrame, valueCents: Column,
                         loCents: Long, hiCents: Long, nBuckets: Int): DataFrame = {
    require(hiCents > loCents && nBuckets > 0, "need hi > lo and n > 0")
    val span = hiCents - loCents
    // (v - lo) * n must not overflow Long — the price of staying in
    // exact integer arithmetic. Cents over [0, 2^63/n) cover any real
    // money range; for wider domains pre-scale the value column.
    require(span <= Long.MaxValue / nBuckets,
      s"span * nBuckets overflows Long: span=$span n=$nBuckets")
    // `div` (IntegralDivide) keeps the arithmetic in Long end-to-end;
    // Column./ would route through double and can mis-bucket by one
    // once |(v-lo)·n| exceeds 2^53. Operands are non-negative in this
    // branch (lo ≤ v < hi), so truncation == floor.
    val b = when(valueCents < loCents, lit(-1L))
      .when(valueCents >= hiCents, lit(nBuckets.toLong))
      .otherwise(call_function("div", (valueCents - loCents) * nBuckets, lit(span)))
      .cast("long")
    df.select(b.as("bucket"), valueCents.as("_v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("sum_cents"),
        min(col("_v")).as("min_cents"), max(col("_v")).as("max_cents"))
      .select(col("bucket"),
        // bucket b holds v iff b ≤ (v-lo)·n/span < b+1, i.e. the
        // integer edge of bucket b is CEIL(b·span/n) — floor-div
        // edges would exclude values the assignment puts in b when
        // span % n ≠ 0. Ceil via (x + n - 1) div n (non-negative).
        when(col("bucket") === -1L, lit(null))
          .otherwise(lit(loCents) + call_function("div",
            col("bucket") * span + (nBuckets - 1), lit(nBuckets.toLong)))
          .cast("long").as("lo_cents"),
        when(col("bucket") === nBuckets.toLong, lit(null))
          .otherwise(lit(loCents) + call_function("div",
            (col("bucket") + 1) * span + (nBuckets - 1), lit(nBuckets.toLong)))
          .cast("long").as("hi_cents"),
        col("n"), col("sum_cents"), col("min_cents"), col("max_cents"))
  }

  /** Per-group ordinary-least-squares TREND FIT (the regr_slope /
    * regr_intercept / r² aggregate family Spark exposes only through
    * double-accumulating `corr`/`covar_samp`, whose sums are
    * partition-order-dependent): slope/intercept/r² of y over x per
    * group, computed ENGINE-EXACTLY — the five moments Σx, Σy, Σxy,
    * Σx², Σy² accumulate as DECIMAL(38,0) integers (order-independent,
    * overflow-safe to 10³⁸; the audit twin uses HUGEINT), and the
    * closed forms then run through a SHORT MIRRORED CHAIN of
    * correctly-rounded IEEE ops (decimal→double casts, one division
    * for the slope, sqrt for r) — bit-identical on any engine and any
    * partitioning, the q106 double-chain discipline applied to
    * regression. Contract: x and y are integer-valued with |x·y|,
    * |x²|, |y²| < 2⁶³ (the per-row products fold in Long before the
    * decimal cast; center x near its range to keep products small).
    *
    * Scale: one map-side-combined aggregate — six numbers per group
    * shuffle, nothing else; the derived columns are projection
    * arithmetic above it. Groups with zero x-variance yield null
    * slope/intercept/r² (vertical fit), zero y-variance yields r²
    * null with slope 0 — both spec-pinned.
    */
  /** Per-key CUSUM CHANGEPOINT scores (Page 1954): the classic
    * mean-shift detector — S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack))
    * accumulates evidence of an UPWARD level shift and resets while
    * the series sits at its baseline; S⁻ mirrors it downward. An
    * alarm fires when either side exceeds its decision threshold h —
    * the sequential-detection tool for "this user's spend level
    * CHANGED", which the pointwise z-test (q106/D16) cannot see
    * (each post-shift value may be individually unremarkable while
    * their drift accumulates).
    *
    * DISTRIBUTED FORM: the recurrence looks inherently sequential,
    * but has the prefix closed form S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ)
    * with Pᵢ the running sum of deviations — so both sides compute as
    * ONE keyed window (prefix sum + running min/max), all exact
    * integer arithmetic on cent-scaled values: no stateful scan, no
    * UDF, engine-portable bit-for-bit. One hash exchange on the key;
    * O(1) window state per row.
    *
    * Appends `s_pos`, `s_neg` (the CUSUM statistics after each row,
    * deterministic (orderCols) scan order) to the input columns.
    */
  def cusum(df: DataFrame, keyCol: String, orderCols: Seq[Column],
            valueCol: Column, targetCents: Long, slackCents: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val devUp = valueCol - lit(targetCents) - lit(slackCents)
    val devDn = valueCol - lit(targetCents) + lit(slackCents)
    df
      .withColumn("_pu", sum(devUp).over(w))
      .withColumn("_pd", sum(devDn).over(w))
      .withColumn("s_pos", col("_pu") - least(lit(0L), min(col("_pu")).over(w)))
      .withColumn("s_neg", greatest(lit(0L), max(col("_pd")).over(w)) - col("_pd"))
      .drop("_pu", "_pd")
  }

  def trendFit(df: DataFrame, groupCol: String, xCol: Column, yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(groupCol).as("g"),
      xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    val agg = d.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val nDec = col("n").cast(dec)
    val num = (nDec * col("sxy") - col("sx") * col("sy")).cast(dec)
    val denx = (nDec * col("sxx") - col("sx") * col("sx")).cast(dec)
    val deny = (nDec * col("syy") - col("sy") * col("sy")).cast(dec)
    agg
      .withColumn("_num", num.cast("double"))
      .withColumn("_denx", denx.cast("double"))
      .withColumn("_deny", deny.cast("double"))
      .withColumn("slope",
        when(col("_denx") === 0.0, lit(null)).otherwise(col("_num") / col("_denx")))
      .withColumn("intercept",
        when(col("_denx") === 0.0, lit(null)).otherwise(
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n").cast("double")))
      .withColumn("r2",
        when(col("_denx") === 0.0 || col("_deny") === 0.0, lit(null)).otherwise {
          val r = col("_num") / sqrt(col("_denx")) / sqrt(col("_deny"))
          r * r
        })
      .select(col("g"), col("n"), col("slope"), col("intercept"), col("r2"))
  }

  /** EXACT distributed AUC (Mann-Whitney with tie correction) — the
    * evaluation a quality classifier (q72, q164) needs at corpus
    * scale: AUC = [#(pos, neg) pairs with score_pos > score_neg +
    * ½·#tied pairs] / (P·N). Computed from per-distinct-score rank
    * spans: ranks come from the house distributed range-sort +
    * `zipWithIndex` (driver sees per-partition counts only, never
    * data — the q109/SortedNeighborhood technique; a bare rank window
    * would funnel the corpus through one task), and since the sort is
    * by score alone, each tie group occupies a CONTIGUOUS rank block,
    * so its average rank is (lo + hi)/2 regardless of how ties were
    * ordered inside the block. Doubling keeps everything integer:
    *
    *   numer2 = Σ_groups p(g)·(lo(g) + hi(g)) − P·(P+1)   (1-based)
    *   AUC    = numer2 / (2·P·N)
    *
    * — exact integer sums end-to-end (decimal(38,0) against overflow:
    * rank sums reach n², which exceeds Long past ~3 billion rows),
    * one mirrored final division; P = 0 or N = 0 yields a null AUC.
    * Output: one row (n, n_pos, n_neg, numer2, auc).
    */
  def auc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = df.select(score.cast("long").as("_s"),
        label.cast("boolean").as("_y"))
      .repartitionByRange(col("_s"))
      .sortWithinPartitions("_s")
      .rdd.zipWithIndex()
      .map { case (row, r) => (row.getLong(0), row.getBoolean(1), r + 1L) }
      .toDF("_s", "_y", "_r")
    val groups = ranked.groupBy(col("_s"))
      .agg(min(col("_r")).as("_lo"), max(col("_r")).as("_hi"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("_p"))
    groups
      .select(col("_p"), (col("_lo") + col("_hi")).as("_span"),
        (col("_hi") - col("_lo") + 1L - col("_p")).as("_negInGroup"))
      .agg(
        sum(col("_p").cast("decimal(38,0)") * col("_span").cast("decimal(38,0)"))
          .as("_rs2"),
        sum(col("_p")).cast("decimal(38,0)").as("_pTot"),
        sum(col("_negInGroup")).cast("decimal(38,0)").as("_nTot"))
      .select(
        (col("_pTot") + col("_nTot")).cast("long").as("n"),
        col("_pTot").cast("long").as("n_pos"),
        col("_nTot").cast("long").as("n_neg"),
        (col("_rs2") - col("_pTot") * (col("_pTot") + 1)).cast("decimal(38,0)").as("numer2"),
        when(col("_pTot") === 0 || col("_nTot") === 0, lit(null).cast("double"))
          .otherwise(
            (col("_rs2") - col("_pTot") * (col("_pTot") + 1)).cast("double") /
              (lit(2.0) * col("_pTot").cast("double") * col("_nTot").cast("double")))
          .as("auc"))
  }

  /** Per-value average-tie rank table, DOUBLED to stay integer: for
    * each distinct value of `v`, `r2` = lo + hi of its contiguous
    * 1-based rank block (= 2 × the average tie rank). Ranks come
    * from the same distributed range-sort + `zipWithIndex` pass as
    * [[auc]]; join the result back on the value to rank a row set.
    */
  private def avgRank2(df: DataFrame, v: Column, as: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(v.cast("long").as(as))
      .repartitionByRange(col(as))
      .sortWithinPartitions(as)
      .rdd.zipWithIndex()
      .map { case (row, r) => (row.getLong(0), r + 1L) }
      .toDF(as, "_r")
      .groupBy(col(as))
      .agg((min(col("_r")) + max(col("_r"))).as(s"${as}_r2"))
  }

  /** EXACT two-sample KOLMOGOROV-SMIRNOV statistic — distribution
    * DRIFT detection between two corpus slices (crawl snapshot vs
    * snapshot, source vs source, yesterday vs today) over an integer
    * signal: D = sup_x |F_A(x) − F_B(x)|, evaluated exactly at every
    * distinct value as an INTEGER cross-multiplication
    * |cumA·n_B − cumB·n_A| (one division at the very end). The
    * pointwise z-test (q106) sees a mean shift; KS sees ANY shape
    * change — variance, bimodality, truncation — which is what a
    * training-data distribution monitor actually needs.
    *
    * Shape: one keyed aggregation to per-distinct-value (a, b)
    * counts, then cumulative sums via range partitioning +
    * PARTITION-LOCAL running windows with per-partition offsets — the
    * distributed prefix sum; no global window funnel. The offsets
    * pass and the window pass must see the SAME partition layout, so
    * the sorted count table is cached for the call (range boundaries
    * are sampled per execution — two uncached executions could split
    * differently and mis-offset); the one-row result is cut. decimal(38,0) cross products
    * (cum·n reaches n²). Output: (n_a, n_b, n_values, d_num, d) with
    * d_num = max |cumA·n_B − cumB·n_A| exact; either side empty →
    * null d.
    */
  /** Reliability table for an integer-scored binary classifier — the
    * CALIBRATION companion to [[auc]] (discrimination): rows ranked by
    * the total order (score, tieBreak) land in `bins` equal-depth bins
    * (sizes differ by at most 1); each bin reports exact integer
    * evidence — count, positives, score min/max/sum — plus the one
    * mirrored division `frac_pos`. A well-behaved quality gate's
    * keep-fraction rises monotonically across bins, and this table is
    * what threshold tuning reads. Ranks via the house distributed
    * range-sort + zipWithIndex (driver sees per-partition counts
    * only — a bare rank window would funnel the corpus through one
    * task); everything after is a bins-sized aggregate.
    */
  def calibrationBins(df: DataFrame, score: Column, tieBreak: Column,
                      label: Column, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1: $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(score.cast("long").as("_s"),
        tieBreak.cast("long").as("_t"), label.cast("boolean").as("_y"))
      .repartitionByRange(col("_s"), col("_t"))
      .sortWithinPartitions("_s", "_t")
    val n = base.count()
    val ranked = base.rdd.zipWithIndex()
      .map { case (row, r) => (row.getLong(0), row.getBoolean(2), r * bins / n) }
      .toDF("_s", "_y", "_bin")
    ranked.groupBy(col("_bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        min(col("_s")).as("score_lo"), max(col("_s")).as("score_hi"),
        sum(col("_s")).as("score_sum"))
      .withColumn("frac_pos", col("n_pos").cast("double") / col("n").cast("double"))
  }

  def ksTest(df: DataFrame, value: Column, isA: Column): DataFrame =
    ksTestCounts(df, value, lit(1L), isA)

  /** [[ksTest]] over PRE-AGGREGATED counts — each input row carries a
    * (value, weight, side) triple. This is the form a monitor reuses
    * every tick against a standing reference histogram
    * (StreamingDrift): the reference corpus aggregates once, the test
    * then costs per-distinct-value work only.
    */
  def ksTestCounts(df: DataFrame, value: Column, weight: Column, isA: Column): DataFrame = {
    val g = df.select(value.cast("long").as("_v"), weight.cast("long").as("_w"),
        isA.cast("boolean").as("_ia"))
      .groupBy(col("_v"))
      .agg(sum(when(col("_ia"), col("_w")).otherwise(0L)).as("_a"),
        sum(when(!col("_ia"), col("_w")).otherwise(0L)).as("_b"))
      .repartitionByRange(col("_v"))
      .sortWithinPartitions("_v")
      .withColumn("_pid", spark_partition_id())
    graft.Exec.scoped { b =>
      val sg = b.cache(g)
      sg.count() // one range layout for both passes
      val parts = sg.groupBy(col("_pid"))
        .agg(sum(col("_a")).as("pa"), sum(col("_b")).as("pb"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val nA = parts.map(_._2).sum
      val nB = parts.map(_._3).sum
      val offA = parts.scanLeft(0L)(_ + _._2).init
      val offB = parts.scanLeft(0L)(_ + _._3).init
      val offAMap = parts.map(_._1).zip(offA).toMap
      val offBMap = parts.map(_._1).zip(offB).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_pid")).orderBy(col("_v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val offACol = offAMap.foldLeft(lit(0L)) { case (acc, (p, o)) =>
        when(col("_pid") === p, lit(o)).otherwise(acc) }
      val offBCol = offBMap.foldLeft(lit(0L)) { case (acc, (p, o)) =>
        when(col("_pid") === p, lit(o)).otherwise(acc) }
      val d = "decimal(38,0)"
      b.cut(sg.withColumn("_ca", (offACol + sum(col("_a")).over(w)).cast(d))
        .withColumn("_cb", (offBCol + sum(col("_b")).over(w)).cast(d))
        .agg(
          count(lit(1)).as("n_values"),
          max(abs(col("_ca") * lit(nB).cast(d) - col("_cb") * lit(nA).cast(d)))
            .as("_dnum"))
        .select(
          lit(nA).as("n_a"), lit(nB).as("n_b"), col("n_values"),
          col("_dnum").cast("long").as("d_num"),
          when(lit(nA) === 0L || lit(nB) === 0L, lit(null).cast("double"))
            .otherwise(col("_dnum").cast("double") /
              (lit(nA).cast("double") * lit(nB).cast("double"))).as("d")))
    }
  }

  /** EXACT distributed SPEARMAN rank correlation between two integer
    * signals — the agreement measurement between two quality scorers
    * (heuristic vs LM, classifier vs length…): Pearson over
    * average-tie ranks. Both rank passes use the [[auc]] technique
    * (range-sort + zipWithIndex; tie blocks contiguous, so doubled
    * average ranks are integers); the five moments accumulate as
    * decimal(38,0) (order-independent, overflow-safe — doubled rank
    * sums of squares reach 4n³), and rho derives through one
    * mirrored chain: (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²) ·
    * sqrt(nΣy² − (Σy)²)) — sqrt is correctly-rounded IEEE on both
    * engines (the q127 r² discipline). Doubling both rank vectors
    * leaves the correlation unchanged. Zero variance on either side
    * (all values tied) → null. Output: one row (n, rho).
    */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    val rows = df.select(x.cast("long").as("_x"), y.cast("long").as("_y"))
    val rx = avgRank2(rows, col("_x"), "_x")
    val ry = avgRank2(rows, col("_y"), "_y")
    val d = "decimal(38,0)"
    rows.join(rx, "_x").join(ry, "_y")
      .select(col("_x_r2").cast(d).as("rx"), col("_y_r2").cast(d).as("ry"))
      .agg(
        count(lit(1)).cast(d).as("_n"),
        sum(col("rx")).as("_sx"), sum(col("ry")).as("_sy"),
        sum(col("rx") * col("ry")).as("_sxy"),
        sum(col("rx") * col("rx")).as("_sxx"),
        sum(col("ry") * col("ry")).as("_syy"))
      .select(
        col("_n").cast("long").as("n"),
        when((col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double") === 0.0 ||
             (col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double") === 0.0,
          lit(null).cast("double"))
          .otherwise(
            (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
              (sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
                sqrt((col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double"))))
          .as("rho"))
  }

  /** EXACT corpus-percentile normalization table — the cross-scorer
    * calibration primitive: heterogeneous quality scorers (heuristic
    * counts, LM scores, classifier margins) are only mixable after
    * mapping each onto its own corpus PERCENTILE (q69's temperature
    * mixing and q56's budgets want "keep the top 20%", not "margin >
    * 173"). Mid-rank percentile in integer BASIS POINTS: with r2 =
    * doubled average rank (min+max of the value's contiguous rank
    * block — ties exact, the q165/q167 machinery), pct_bp =
    * r2·5000 div n ∈ (0, 10000]. Entirely integer; bit-identical
    * across engines and partitionings.
    *
    * Returns the DISTINCT-VALUE mapping (value, pct_bp) — values-
    * scale, broadcastable or joinable back onto the corpus; ranks via
    * range-sort + zipWithIndex (no global window funnel).
    */
  def percentileTable(df: DataFrame, value: Column): DataFrame = {
    val ranked = avgRank2(df.select(value.cast("long").as("_v")), col("_v"), "_v")
    val nRow = df.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(nRow))
      .select(col("_v").as("value"),
        ((col("_v_r2") * 5000L) / col("_n")).cast("long").as("pct_bp"))
  }

  /** EXACT per-group MEDIAN / MAD robust outlier detection — the
    * robust-statistics companion to q106's k·σ z-test and q128's
    * CUSUM: mean/σ are themselves dragged by the outliers they hunt
    * (one 100× spike inflates σ until nothing else flags), while the
    * median and the MEDIAN ABSOLUTE DEVIATION have a 50% breakdown
    * point. Flags values with |x − median| > k·MAD — ENTIRELY in
    * integer arithmetic (the flag is a long comparison, no division,
    * no 1.4826 consistency scaling — k is calibrated against raw MAD).
    *
    * Medians use the q46 integer interpolation ((lo·(100−rem) +
    * hi·rem + 50) div 100 at p=50, so even-n medians round half-up)
    * computed at VALUE level: one corpus-scale groupBy collapses to
    * (group, value, count) rows first, and every window after that
    * runs over the bounded distinct-value table with weights (the
    * q168 weighted-prefix discipline) — a per-group window over raw
    * corpus rows would funnel a 100 TB group through one task; over
    * its distinct cents values it is bounded and cheap. The MAD pass
    * re-aggregates |x − med| (collisions merge) and reuses the same
    * median kernel.
    *
    * Output: one row per group (grp, n, median, mad, n_outliers,
    * max_dev) — all longs, fully oracle-hashable.
    */
  def madOutliers(df: DataFrame, group: Column, value: Column, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wg = Window.partitionBy("_g")
    // (group, value, count) -> (group, n, med) via the q46 integer
    // interpolation over the cumulative-weight rank
    def medianOf(t: DataFrame): DataFrame = {
      val cum = t.withColumn("_cum", sum(col("_c")).over(w))
        .withColumn("_n", sum(col("_c")).over(wg))
      val num = (col("_n") - 1) * 50
      val loIdx = call_function("div", num, lit(100L))
      val hiIdx = loIdx + when(pmod(num, lit(100L)) > 0, 1L).otherwise(0L)
      val g = cum.groupBy(col("_g"))
        .agg(max(col("_n")).as("_n"),
          min(when(col("_cum") >= loIdx + 1, col("_v"))).as("_lo"),
          min(when(col("_cum") >= hiIdx + 1, col("_v"))).as("_hi"))
      val rem = pmod((col("_n") - 1) * 50, lit(100L))
      g.select(col("_g"), col("_n"),
        call_function("div",
          col("_lo") * (lit(100L) - rem) + col("_hi") * rem + 50L, lit(100L))
          .as("_med"))
    }
    // r17 (guide §1.2/§2.3): three eager jobs, not four, and no third
    // pass over the value table. The corpus pass collapses straight
    // into the checkpointed (group, value, count) frame; the group
    // medians (one row per group) checkpoint next; the FINAL aggregate
    // runs over the deviation table — which already carries every
    // |x − med| the output needs — so the old v⋈med⋈mad re-scan and
    // the result-checkpoint job are gone. dev stays lazy: both its
    // consumers (the MAD median and the final agg) rebuild it from
    // vc's checkpoint blocks, one bounded join+agg each, cheaper than
    // a fourth eager job. One block set per frame survives for the
    // caller's plan (the PageRank/Hits precedent).
    // med feeds dev's join and the final output — one row per group,
    // broadcast EXPLICITLY: a checkpoint's LogicalRDD leaf carries no
    // size stats, so without the hint the planner falls back to
    // sort-merge and shuffles the value table by group (guide §3.1:
    // estimates are often wrong — hint when you know a side is small).
    val (vc, med) = graft.Exec.scoped { b =>
      val vc = b.cut(df.select(group.cast("string").as("_g"), value.cast("long").as("_v"))
        .groupBy("_g", "_v").agg(count(lit(1)).as("_c")))
      (vc, b.cut(medianOf(vc)))
    }
    val dev = vc.join(broadcast(med.select(col("_g"), col("_med"))), "_g")
      .select(col("_g"), abs(col("_v") - col("_med")).as("_v"), col("_c"))
      .groupBy("_g", "_v").agg(sum(col("_c")).as("_c"))
    val mad = medianOf(dev).select(col("_g"), col("_med").as("_mad"))
    dev.join(broadcast(mad), "_g")
      .groupBy(col("_g"))
      .agg(max(col("_mad")).as("mad"),
        sum(when(col("_v") > lit(k.toLong) * col("_mad"), col("_c"))
          .otherwise(0L)).as("n_outliers"),
        max(col("_v")).as("max_dev"))
      .join(broadcast(med), "_g")
      .select(col("_g").as("grp"), col("_n").as("n"), col("_med").as("median"),
        col("mad"), col("n_outliers"), col("max_dev"))
  }

  /** EXACT two-sample Pearson CHI-SQUARE test of homogeneity over a
    * CATEGORICAL signal — the drift test [[ksTest]] cannot run: KS
    * needs an ordered signal (lengths, scores); the source/language/
    * domain MIX of a corpus is unordered, and a shifted mix is
    * exactly how a crawl goes wrong silently (one feed dries up, a
    * spam source floods in). Identity used, algebraically equal to
    * the textbook Σ(O−E)²/E over the 2×k table:
    *
    *   χ² = Σ_c D_c² / (t_c·n_A·n_B),   D_c = a_c·n_B − b_c·n_A,
    *                                    t_c = a_c + b_c
    *
    * D_c is EXACT in decimal(38,0) (products reach N², fine to 1e19
    * rows); D_c² would reach N⁴ and overflow any fixed decimal, so
    * each category's term converts to double ONCE and χ² accumulates
    * as a SEQUENTIAL FOLD IN CATEGORY ORDER (the q164/q119
    * list-fold discipline — `aggregate` over a sorted struct array —
    * so the double ride the cross-engine oracle hash; a float `sum`
    * would be reduction-order-dependent). The per-term chain is
    * pinned: ((dD·dD)/dT)/(dA·dB).
    *
    * Scale: the category table is a BOUNDED-KEY aggregate (map-side
    * partials absorb corpus scale); the fold runs over one
    * categories-sized array in one final reduce. Contract: distinct
    * categories must fit one executor's memory (sources/languages/
    * domains — thousands, not billions); a corpus-cardinality
    * category column is a misuse. Output: one row (k_categories,
    * n_a, n_b, df, chi2); chi2 is null when either side is empty.
    */
  def chiSquare(df: DataFrame, category: Column, isA: Column): DataFrame =
    chiSquareCounts(df, category, lit(1L), isA)

  /** [[chiSquare]] over PRE-AGGREGATED counts — each row a
    * (category, weight, side) triple; the monitor form (a standing
    * reference histogram tests each arriving batch at
    * categories-scale cost, the [[ksTestCounts]] pattern).
    */
  def chiSquareCounts(df: DataFrame, category: Column, weight: Column,
                      isA: Column): DataFrame = {
    val d = "decimal(38,0)"
    val g = df.select(category.cast("string").as("_c"),
        weight.cast("long").as("_w"), isA.cast("boolean").as("_ia"))
      .groupBy(col("_c"))
      .agg(sum(when(col("_ia"), col("_w")).otherwise(0L)).as("_a"),
        sum(when(!col("_ia"), col("_w")).otherwise(0L)).as("_b"))
    g.agg(
        count(lit(1)).as("_k"),
        sum(col("_a")).cast(d).as("_na"), sum(col("_b")).cast(d).as("_nb"),
        sort_array(collect_list(struct(col("_c"), col("_a"), col("_b")))).as("_cells"))
      .select(
        col("_k").as("k_categories"),
        col("_na").cast("long").as("n_a"), col("_nb").cast("long").as("n_b"),
        (col("_k") - 1L).as("df"),
        when(col("_na") === lit(0).cast(d) || col("_nb") === lit(0).cast(d),
          lit(null).cast("double"))
          .otherwise(aggregate(col("_cells"), lit(0.0), (acc, x) => {
            val dD = (x.getField("_a").cast(d) * col("_nb") -
              x.getField("_b").cast(d) * col("_na")).cast("double")
            val dT = (x.getField("_a") + x.getField("_b")).cast("double")
            acc + dD * dD / dT / (col("_na").cast("double") * col("_nb").cast("double"))
          })).as("chi2"))
  }
}
