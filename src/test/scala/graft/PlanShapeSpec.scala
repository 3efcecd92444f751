package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Scale-shape assertions: these queries must produce the plan we'd
  * want at 100 TB — filters/projections reaching the parquet scan,
  * dims broadcast (no fact shuffle for the join), codegen'd custom
  * expressions. Catching a plan regression here is the point; the
  * value-correctness is covered by the DuckDB oracle gate.
  */
class PlanShapeSpec extends SparkSpec {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q11: predicate and column pruning reach the parquet scan") {
    val plan = formatted("q11_filter_project")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("l_shipdate"), s"no pushed filters in:\n$plan")
    // only the 4 referenced columns in ReadSchema, not all 11
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey"), s"scan reads unneeded columns: $readSchema")
  }

  test("q12: dim side broadcast — no shuffle of the fact for the join") {
    val plan = formatted("q12_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("q10: partial aggregation before the exchange (map-side combine)") {
    val plan = formatted("q10_agg")
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate in:\n$plan")
  }

  test("q13: all dimension joins are broadcast at sf0.001") {
    val plan = formatted("q13_multi_join")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("simhash expression supports codegen (no CodegenFallback)") {
    val expr = graft.functions.SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal("abc"))
    assert(!expr.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("q45: range join plans as a hash join on the bucket key — never nested-loop/cartesian") {
    val plan = formatted("q45_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degenerated to a non-hash join:\n$plan")
    assert(plan.contains("Join") || plan.contains("HashJoin"), s"no join in:\n$plan")
  }

  test("q34: candidate join is broadcast — the token exchange carries only candidates") {
    // exactTopN filters tokens through an inner BROADCAST join against
    // the ≤ langs×k candidate set (which also carries the per-lang
    // certificate stats), so the exact-count groupBy shuffles only
    // candidate tokens, never the full vocabulary.
    val plan = formatted("q34_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast candidate join in:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"candidates should broadcast:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"sketch aggregate missing:\n$plan")
  }

  test("q41: pipeline is window-free — one explode, no Window operator before the final sort") {
    val plan = formatted("q41_detected_currency")
    assert(plan.contains("Generate"), s"expected the line explode in:\n$plan")
    // section propagation happens inside the per-doc array, not via a
    // running-last window (which would shuffle by doc and break the
    // streaming twin)
    assert(!plan.contains("Window"), s"unexpected Window in the pipeline plan:\n$plan")
  }

  test("gopher gate is map-only: zero shuffles, rides the document scan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = functions.GopherRules.signals(Tables.documents(spark, sf("sf0.001")))
      val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      assert(ex.isEmpty, s"quality gate should not shuffle: ${ex.map(_.nodeName)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("token-budget and domain-cap windows shuffle narrow columns, never text") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val tb = functions.Sampling.tokenBudgetSelect(
        docs.select(col("doc_id"), col("lang"),
          functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", 500L)
      val dc = functions.Sampling.domainCap(
        docs.select(col("doc_id"), col("source")), "source", "doc_id", 3)
      Seq(tb, dc).foreach { df =>
        val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
        assert(ex.nonEmpty, "expected the window shuffle")
        ex.foreach { s =>
          val cols = s.output.map(_.name)
          assert(!cols.contains("text"), s"window shuffle carries payload: $cols")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q60: vocab join runs on pre-aggregated (doc,token) counts, not raw exploded tokens") {
    val df = SparkEntry.queries("q60_unigram_lm")(spark, sf("sf0.001"))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // the token-keyed join: BOTH sides must be aggregates (vocabulary
    // counts × per-(doc,token) counts) — joining raw exploded tokens
    // would put the shuffle at total-token scale instead of
    // distinct-pair scale
    val tokenJoin = joins.filter(_.condition.exists(_.references.exists(_.name == "token")))
    assert(tokenJoin.nonEmpty, "expected a token-keyed join")
    tokenJoin.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(side.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty, s"token join side is not pre-aggregated:\n$side")
      }
    }
  }

  test("q61/q63: URL parse and markup strip are map-only modulo harness repartitions") {
    Seq("q61_url_canonicalize", "q63_strip_markup").foreach { name =>
      val plan = formatted(name)
      assert(!plan.contains("Join"), s"$name: unexpected join\n$plan")
      assert(!plan.contains("HashAggregate"), s"$name: unexpected aggregate\n$plan")
    }
    // q63 has no window either — pure scan → project → funnel
    assert(!formatted("q63_strip_markup").contains("Window"))
  }

  test("q71: span-dedup shuffles carry fixed-width columns, never text") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = dedup.SpanDedup.spanStats(
        Tables.documents(spark, sf("sf0.001")), "doc_id", "text", w = 20)
      val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      assert(ex.nonEmpty, "expected the window-hash shuffles")
      ex.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.contains("text"), s"span-dedup shuffle carries text: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q72: trained scoring is a broadcast weight join + keyed aggregate, no window") {
    // r17: q72 scores from the PERSISTED trained model. The weight
    // table is model-sized and must ride a broadcast (a shuffle join
    // against a ≤1024-row dim would be wrong at any corpus size);
    // the margin is a hash aggregate on the id key; nothing windows.
    val plan = formatted("q72_quality_classifier")
    assert(plan.contains("BroadcastHashJoin"),
      s"q72: the weight join must broadcast the model-sized table\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q72: unexpected non-keyed join\n$plan")
    assert(plan.contains("HashAggregate"), s"q72: expected the per-doc margin aggregate\n$plan")
    assert(!plan.contains("Window"), s"q72: unexpected window\n$plan")
  }

  test("q77: reconcile exchanges carry bucket summaries, never table rows") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val o = Tables.orders(spark, sf("sf0.001"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val df = operators.Reconcile.checksums(o, "o_orderkey",
        Seq("o_orderkey", "o_totalprice", "o_orderstatus"), buckets = 16)
      val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      assert(ex.nonEmpty, "expected the bucket-summary exchange")
      ex.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c.contains("orderkey") || c.contains("totalprice")),
          s"reconcile shuffle carries table rows: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q110: ER composition never degenerates to a cartesian or nested-loop join") {
    // block → verify → CC → golden record: every join must stay
    // keyed (the block-key candidate join, the component join, the
    // canonical-name join) — an accidental corpus-scale cross
    // product is exactly the regression this guards. CC runs eagerly
    // at plan build; the surviving plan is the composition above it.
    val plan = formatted("q110_entity_resolution")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the ER plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in the ER plan:\n$plan")
    assert(plan.contains("Join"), s"no join in:\n$plan")
  }

  test("q115: postings build partial-aggregates the token stream before its exchange") {
    // explode → (term, doc) HashAggregate pair: the raw exploded
    // token stream must combine map-side, never shuffle raw.
    // (Bucket-pruned readTerms is metric-asserted in
    // InvertedIndexSpec — partitionFilters + numPartitions.)
    val plan = formatted("q115_inverted_index")
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate pair in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  private def staticPlan(name: String): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q126/q130: corpus passes ride the TopKPerKey heap — no corpus-side window sort") {
    for (name <- Seq("q126_weighted_sample", "q130_sample_quantiles")) {
      val plan = staticPlan(name)
      val heaps = plan.collect { case p if p.nodeName.contains("TopKPerKey") => p }
      assert(heaps.nonEmpty, s"$name: expected the custom heap exec in:\n$plan")
      // the rank/tau windows are result-sized (above the cut); the
      // corpus side — the heap's subtree — must hold none
      heaps.foreach { h =>
        val below = h.children.flatMap(_.collect {
          case w if w.nodeName.contains("Window") => w
        })
        assert(below.isEmpty, s"$name: Window on the corpus side below the heap:\n$plan")
      }
    }
  }

  test("q127/q128: one keyed exchange each (partial agg / shared window partitioning)") {
    for ((name, maxKeyed) <- Seq("q127_trend_fit" -> 1, "q128_cusum" -> 1)) {
      val plan = staticPlan(name)
      val keyed = plan.collect { case s: ShuffleExchangeExec => s }.filter(
        _.outputPartitioning.getClass.getSimpleName.contains("HashPartitioning"))
      assert(keyed.size <= maxKeyed,
        s"$name: expected <= $maxKeyed keyed exchange, got ${keyed.size}:\n$plan")
    }
  }

  test("codec kernels (q136-q141) are map-only: the only exchanges are fanOut and the output sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("q136_avro_read", "q137_tfrecord", "q138_lz4_frames",
        "q139_zstd", "q140_bzip2", "q141_xz").foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
        val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
        // fanOut RoundRobin + the deterministic ORDER BY range exchange
        assert(ex.size <= 2, s"$name: unexpected exchanges ${ex.map(_.outputPartitioning)}")
        val mp = df.queryExecution.executedPlan.toString
        assert(mp.contains("MapPartitions"), s"$name: decode kernel missing from plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("r14 eval tier: no corpus-wide window, no payload shuffles") {
    // q164: aggregate-before-join LM scoring — the only Window-free
    // shape; the per-doc fold rides a groupBy, never a window.
    val lm = formatted("q164_lm_quality")
    assert(!lm.contains("Window"), s"unexpected Window in the LM scoring plan:\n$lm")
    assert(lm.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation in:\n$lm")
    // q165/q167: rank passes go through RDD zipWithIndex (Scan
    // ExistingRDD), never a global row_number window.
    Seq("q165_classifier_auc", "q167_spearman").foreach { q =>
      val p = formatted(q)
      assert(!p.contains("Window"), s"$q: rank must not use a window:\n$p")
      assert(p.contains("MapPartitionsRDD"), s"$q: expected the zipWithIndex rank scan:\n$p")
    }
    // q168 executes eagerly inside an Exec scope (the offsets pass and
    // the window pass must share one cached range layout), so the
    // returned plan is the materialized one-row scan — assert exactly
    // that contract; the window's partition-locality is pinned
    // behaviorally by StatsSpec/EvalPropertySpec partition-invariance.
    val ks = formatted("q168_ks_drift")
    assert(ks.contains("Scan ExistingRDD") && !ks.contains("Window"),
      s"q168 must return the eagerly-materialized scan, not a lazy plan:\n$ks")
  }

  test("q180: chi-square is two bounded-key aggregate pairs, no window, no raw-row join") {
    val p = formatted("q180_chisq_drift")
    assert(!p.contains("Window"), s"q180 must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q180 cartesian:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"q180: expected partial+final pairs for the category table and the fold row:\n$p")
  }

  test("q187: MAD reads checkpointed value/median frames; its windows are group-partitioned") {
    // madOutliers materializes the (group, value, count) table and the
    // group medians eagerly (each feeds 2+ consumers); the returned
    // plan reads those checkpoints and runs the MAD median + final
    // aggregate over the BOUNDED deviation table — its windows must
    // partition by the group key (never a raw-row window), and the
    // corpus never re-scans (r17: the old shape paid a fourth eager
    // job plus a third pass over the value table)
    val p = formatted("q187_mad_outliers")
    assert(p.contains("Scan ExistingRDD"),
      s"q187 must read the checkpointed value table:\n$p")
    assert(!p.contains("Scan parquet"),
      s"q187 must not re-scan the corpus after materialization:\n$p")
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString
    assert(wins.isEmpty || wins.contains("_g"),
      s"q187 windows must partition by the group key:\n$wins")
    // and pin the INNER shape on a lazy reconstruction: cumulative
    // windows over the value table partition by the group key
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val vc = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag").as("_g"),
        (round(col("l_extendedprice") * 100)).cast("long").as("_v"))
      .groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val lazyCum = vc.withColumn("_cum",
      sum(col("_c")).over(W.partitionBy("_g").orderBy("_v")))
    val lp = lazyCum.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(lp.contains("Window"), s"expected the value-level window:\n$lp")
    val winArgs = lp.linesIterator.filter(_.contains("windowspecdefinition")).mkString
    assert(winArgs.contains("_g"), s"windows must partition by the group key:\n$winArgs")
    assert(!lp.contains("CartesianProduct"))
  }

  test("q188: suffix dedup is one sliding pass over the suffix order, no joins") {
    val p = SparkEntry.q188LazyPlan(spark, sf("sf0.001")).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), s"q188: the global suffix order must come from the " +
      s"range sort + partition-local sliding pass, never a window:\n$p")
    assert(!p.contains("Join"), s"q188: neighbor LCPs are partition-local with " +
      s"boundary carries — no join of any kind:\n$p")
    assert(p.contains("MapPartitionsRDD"),
      s"q188: expected the sliding-pass RDD scan:\n$p")
    // exactly one exchange survives: the doc-id aggregate (the range
    // sort lives inside the cached RDD lineage, not this plan)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"q188: expected only the doc-agg exchange(s):\n$p")
  }

  test("q189: percentile rank is window-free; the mapping joins at values scale") {
    val p = formatted("q189_percentile_norm")
    assert(!p.contains("Window"), s"q189: ranks must come from zipWithIndex:\n$p")
    assert(p.contains("MapPartitionsRDD"), s"q189: expected the rank scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"q189 cartesian:\n$p")
  }

  test("q190: the KLL side is an ObjectHashAggregate pair — the corpus never sorts for the sketch") {
    val p = formatted("q190_kll_certify")
    assert(p.contains("ObjectHashAggregate"),
      s"q190: typed-buffer sketch aggregate expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"q190 cartesian:\n$p")
  }

  test("exact dedup shuffles only (fingerprint, id), never the payload") {
    // AQE wraps exchanges in query stages lazily; inspect the static plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = dedup.ExactDedup.groups(Tables.documents(spark, sf("sf0.001")), "doc_id", "text")
      val ex = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(ex.nonEmpty, "expected a shuffle for the fingerprint groupBy")
      ex.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.contains("text"), s"shuffle carries document payload: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
