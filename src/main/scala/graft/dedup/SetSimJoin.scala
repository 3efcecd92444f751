package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join (all pairs with Jaccard ≥ τ) via
  * prefix filtering — the deterministic complement to MinHashLsh:
  * LSH trades recall for speed (bucket collisions are probabilistic,
  * oversized buckets are dropped), this operator returns EXACTLY the
  * brute-force answer while still pruning the candidate space, so it
  * is the right tool when a dedup decision must be auditable
  * (compliance holds, eval-set guarantees) rather than best-effort.
  *
  * Reference context: the reference pipeline dedups menu documents by
  * exact content hash only (restaurant_etl/transformers/
  * deduplicator.py:1); the similarity tier here is the mandated
  * training-data extension.
  *
  * Algorithm (Bayardo et al., "Scaling Up All Pairs Similarity
  * Search", WWW'07 — prefix filtering under a global token order):
  *  1. token doc-frequencies over the corpus (one token-scale agg);
  *  2. each record's token set is ordered rarest-first (ascending
  *     (df, token) — deterministic, ties broken by token value);
  *  3. the τ-prefix of a size-n set is its first n − ⌈τn⌉ + 1 tokens.
  *     THEOREM: J(A,B) ≥ τ ⇒ the τ-prefixes of A and B share a
  *     token. Proof: suppose not, and let m be the smallest (in the
  *     global order) token of A∩B. m is outside at least one prefix,
  *     say A's, so m sits among A's last ⌈τ|A|⌉ − 1 tokens; every
  *     token of A∩B is ≥ m, hence also among those, so
  *     |A∩B| ≤ ⌈τ|A|⌉ − 1 < τ|A| ≤ τ|A∪B| ≤ |A∩B| — contradiction.
  *  4. candidate pairs = prefix-token self-join (id_a < id_b) with
  *     the length filter den·min(n_a,n_b) ≥ num·max(n_a,n_b)
  *     (J ≥ τ forces τ·max ≤ |A∩B| ≤ min);
  *  5. exact verification: array_intersect on the full (distinct)
  *     sets, integer threshold den·i ≥ num·(n_a + n_b − i). r13: the
  *     global order is materialized as DENSE LONG RANKS (distributed
  *     sort + zipWithIndex over the vocabulary), and prefix keys and
  *     verification arrays are ranks, not raw tokens — an exact
  *     bijection that cuts the verify stage's shuffled bytes ~6× on
  *     string token spaces and makes every join key a long.
  *
  * Scale shape: the only corpus-scale shuffles are the token-df agg,
  * the rank join, and the per-record re-group — all keyed shuffles
  * with partial aggregation, never all-pairs. Candidate-bucket size
  * for token t is the number of records whose τ-PREFIX retains t;
  * rarest-first ordering pushes high-df tokens out of prefixes
  * wherever a rarer token exists, which is exactly what bounds hot
  * buckets (the WWW'07 result). Exactness forbids the LSH-style
  * bucket drop, so there is no silent cap: `assertMaxBucket` (specs,
  * canaries) fails fast instead if a prefix bucket exceeds the bound
  * — the remedies at 100 TB are a higher τ or a coarser token space
  * (e.g. longer shingles), both of which shrink prefixes without
  * costing exactness at the chosen τ.
  *
  * τ is a rational num/den so every threshold comparison is integer
  * cross-multiplication — no double rounding anywhere near the
  * decision, and a SQL oracle can mirror it bit-for-bit.
  */
object SetSimJoin {

  /** All unordered pairs (id_a < id_b) with Jaccard(set_a, set_b) ≥
    * num/den. `setCol` is an array column; sets are de-duplicated
    * internally. Output: (id_a, id_b, n_a, n_b, inter, jaccard) with
    * exact integer sizes and jaccard produced by one final division.
    *
    * @param assertMaxBucket when Some(k), fail the job if any prefix
    *   bucket exceeds k records (diagnostic guard — exactness means
    *   buckets must never be silently dropped). Plan-folded: a
    *   windowed count + raise_error riding the join's own ptok
    *   shuffle, not a separate eager pass.
    */
  def join(
      df: DataFrame,
      idCol: String,
      setCol: String,
      num: Int,
      den: Int,
      assertMaxBucket: Option[Int] = None): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"need 0 < num/den <= 1, got $num/$den")

    // Materialize the tokenized corpus ONCE (guide §2.4/§3.3): `toks`
    // is typically an expensive derived expression (shingling), and
    // without a materialization boundary Catalyst re-inlines it into
    // every downstream consumer — the r17 plan audit showed the whole
    // scan→shingle→explode→rank→regroup chain duplicated per consumer
    // (16 scans, the shingle lambda additionally cloned into pushed
    // filters). One eager cut computes it once; at cluster
    // scale the same boundary is a scratch-table write (GraftSession
    // note), never a recompute-per-consumer.
    // r18: a cache (not an eager cut) — the `sets` cut below fills
    // this cache inside its own job (block-level locks dedupe the two
    // consumers' racing fills), so the operator pays ONE corpus-scale
    // eager job instead of two sequential ones.
    graft.Exec.scoped { sc =>
      val sets0 = sc.cache(df
        .select(col(idCol).as("id"), array_distinct(col(setCol)).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0))

      val tok = sets0.select(col("id"), col("n"), explode(col("toks")).as("tok"))
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))

      // INTEGER ranks in the global (df, tok) order the prefix theorem
      // needs. The theorem needs a TOTAL order, injectively embedded in
      // a long — NOT dense numbering — so ranks are
      // `monotonically_increasing_id` over the range-partitioned,
      // partition-sorted vocabulary: range partitioning puts every key
      // of partition i before every key of partition i+1 (AQE-coalesced
      // partitions stay contiguous and re-sort as one), the
      // within-partition sort orders the rest, and mid() = (pid << 33)
      // | row-in-partition is strictly increasing along exactly that
      // order. Zero extra jobs — where the r13 formulation (range sort
      // + RDD zipWithIndex + createDataFrame) paid a sample job, an
      // eager per-partition count job, a SECOND execution of the sort,
      // and a Row re-encoding of the vocabulary. Ranks never leave the
      // operator (outputs are counts/ids/jaccard only), so any
      // order-consistent injection yields bit-identical results; a
      // row_number window would funnel the vocabulary through one task.
      // Everything downstream — the per-record sort, the prefix
      // self-join key, and the verification arrays — works on LONGS
      // instead of raw tokens: on string token spaces (shingles) that
      // cut the verify stage's shuffle volume ~6× and its hash work
      // ~2× (r13, measured at sf0.1: 5.9 s → ~2 s for the same 125k
      // candidates).
      val rank = freq
        .repartitionByRange(col("df"), col("tok"))
        .sortWithinPartitions("df", "tok")
        .select(col("tok"), monotonically_increasing_id().as("r"))

      // One row per record: its tokens as sorted ranks. Feeds FOUR
      // consumers (the two prefix sides, both verification sides) —
      // materialized eagerly so the rank join + regroup run once; the
      // lazy-plan alternative re-executed the subtree per consumer
      // (exchange reuse does NOT fire here: each consumer prunes a
      // different column set, so the exchanges are not canonically
      // equal). Only this cut survives the operator.
      val sets = sc.cut(tok.join(rank, "tok")
        .groupBy("id", "n")
        .agg(sort_array(collect_list(col("r"))).as("rord")))

      // Rarest-first order per record; τ-prefix = first n − ⌈τn⌉ + 1.
      // Positions ride along for the PPJoin candidate bound below.
      val plen = (col("n") - floor((col("n") * num + (den - 1)) / den) + 1).cast("int")
      val prefix0 = sets
        .select(col("id"), col("n"), posexplode(slice(col("rord"), lit(1), plen)))
        .select(col("id"), col("n"), (col("pos") + 1).as("pos"), col("col").as("ptok"))

      // Plan-folded guard (r8 design note: the old eager head() here
      // cost a separate corpus-scale job): a windowed bucket count over
      // ptok — the same key the candidate join shuffles on anyway — and
      // any oversized bucket poisons its own rows with raise_error, so
      // the check fires inside the join stage for free and still fails
      // the whole job before any silently-wrong output can commit.
      val prefix = assertMaxBucket.fold(prefix0) { k =>
        val bc = count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("ptok"))
        prefix0.withColumn("_bc", bc)
          .withColumn("ptok",
            when(col("_bc") <= k, col("ptok"))
              .otherwise(raise_error(concat(
                lit("prefix bucket of "), col("_bc").cast("string"),
                lit(s" records exceeds $k — raise τ or coarsen the token space")))))
          .drop("_bc")
      }

      val a = prefix.select(col("id").as("id_a"), col("n").as("n_a"),
        col("pos").as("pos_a"), col("ptok"))
      val b = prefix.select(col("id").as("id_b"), col("n").as("n_b"),
        col("pos").as("pos_b"), col("ptok"))
      // PPJoin positional bound (Xiao et al., WWW'08): via a token at
      // (1-based) positions (i, j), total overlap ≤ 1 + min(n_a−i,
      // n_b−j), while J ≥ τ needs overlap ≥ α = ⌈num·(n_a+n_b)/
      // (num+den)⌉ (from α ≥ τ·(n_a+n_b−α)); x ≥ ⌈S/D⌉ ⟺ D·x ≥ S
      // keeps the test integer. A true pair's FIRST shared prefix
      // token satisfies the bound (every shared token sorts at or
      // after it), so filtering per candidate row loses nothing — but
      // on shared-vocabulary corpora it removes the deep-position
      // coincidental matches that dominate the candidate set (measured
      // 310k → ~16k candidate rows for the same 256 survivors at
      // sf0.1, and the verify stage shuffles token arrays per
      // candidate, so the cut is the whole win).
      val cand = a.join(b, "ptok")
        .filter(col("id_a") < col("id_b"))
        .filter(least(col("n_a"), col("n_b")) * den >= greatest(col("n_a"), col("n_b")) * num)
        .filter((lit(1) + least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))) *
          (num + den) >= (col("n_a") + col("n_b")) * num)
        .select("id_a", "id_b").distinct()

      val fa = sets.select(col("id").as("id_a"), col("rord").as("_ta"), col("n").as("n_a"))
      val fb = sets.select(col("id").as("id_b"), col("rord").as("_tb"), col("n").as("n_b"))
      cand.join(fa, "id_a").join(fb, "id_b")
        .withColumn("inter", size(array_intersect(col("_ta"), col("_tb"))).cast("long"))
        .filter(col("inter") * den >= (col("n_a") + col("n_b") - col("inter")) * num)
        .select(col("id_a"), col("id_b"),
          col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
          col("inter"),
          (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
    }
  }
}
