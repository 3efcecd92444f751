package graft.dedup

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → k minhashes → band hashes → bucket join → candidate
  * pairs → verified Jaccard.
  *
  * Scale shape (the reason this works at 100 TB):
  *  - signatures are computed map-side in one codegen'd pass over the
  *    text (no shuffle);
  *  - the only corpus-wide shuffle carries (band_hash, id, sig) —
  *    fixed ~300 bytes/doc regardless of document size;
  *  - document text is re-fetched ONLY for candidate pairs (two
  *    id-keyed joins), which LSH keeps to a small fraction of n²;
  *  - a bucket-size cap bounds the quadratic blowup of degenerate
  *    buckets (boilerplate-heavy corpora), the classic skew guard.
  */
object MinHashLsh {

  /** numHashes = bands * rowsPerBand. Defaults tuned for jaccard
    * thresholds around 0.5-0.8: P(candidate) = 1-(1-j^r)^b.
    */
  case class Config(
      numHashes: Int = 32,
      bands: Int = 4,
      shingleSize: Int = 3,
      wordShingles: Boolean = false,
      seed: Long = 42L,
      maxBucketSize: Int = 200) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  private val P = 1000000007L

  /** Deterministic (a, b) coefficients via splitmix64 on the seed. */
  private def coefficients(k: Int, seed: Long): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      z
    }
    (0 until k).map { _ =>
      val a = java.lang.Math.floorMod(next(), P - 1) + 1 // [1, P)
      val b = java.lang.Math.floorMod(next(), P)         // [0, P)
      (a, b)
    }
  }

  /** Shingle set of a doc — materialize the norm first (see
    * TextFunctions perf note); this method is handed a raw text
    * column only at API convenience level.
    */
  def shingles(text: Column, cfg: Config): Column =
    if (cfg.wordShingles) TextFunctions.wordShingles(text, cfg.shingleSize)
    else TextFunctions.charShingles(text, cfg.shingleSize)

  /** k-wide minhash signature (array<bigint>) over pre-materialized
    * shingle hashes. h_i(s) = (a_i * (xxhash64(s) mod P) + b_i) mod P,
    * min over shingles. Modular form keeps every product < 2^63
    * (ANSI-safe) and makes the signature engine-reproducible.
    */
  def signatureOfBases(basesCol: Column, cfg: Config): Column = {
    val cs = coefficients(cfg.numHashes, cfg.seed)
    array(cs.map { case (a, b) =>
      coalesce(array_min(transform(basesCol, x => pmod(lit(a) * x + lit(b), lit(P)))), lit(P))
    }: _*)
  }

  /** (id, hashed shingle set, signature) — one scan, one codegen'd
    * pass. This is the table a production deployment would persist
    * (signatures are ~300B/doc regardless of document size); callers
    * below cache it so banding / pairing / verification reuse one
    * computation instead of re-scanning the corpus per branch.
    *
    * Char-shingle mode uses the native expressions (ShingleImpl:
    * one primitive loop per row, no per-shingle allocation); word
    * shingles fall back to the HOF composition.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame =
    if (cfg.wordShingles) {
      // NATIVE word path (r14d): one compiled loop per row for the
      // md5-fold bases and one for the k signature mins — the HOF
      // composition evaluated its lambdas interpreted per element
      // (and CollapseProject re-inlined the bases chain into each
      // consumer), which made q201 ~10 s; md5-fold (not xxhash64)
      // keeps the hash engine-reproducible for the oracle
      graft.functions.ShingleFunctions.register(docs.sparkSession)
      docs.select(col(idCol),
        graft.functions.ShingleFunctions.wordBases(col(textCol), cfg.shingleSize).as("_bases"))
        .select(col(idCol), col("_bases"),
          graft.functions.ShingleFunctions.sigOfBases(
            col("_bases"), cfg.numHashes, cfg.seed).as("sig"))
    } else {
      // sig derives from the already-hashed DISTINCT bases (r15): the
      // old shape ran minhash_sig over the normalized text too — a
      // second full shingle-hash pass per document for values the
      // bases already carry (min over distinct = min over multiset)
      graft.functions.ShingleFunctions.register(docs.sparkSession)
      docs.select(col(idCol), graft.functions.TextFunctions.normalized(col(textCol)).as("_norm"))
        .select(col(idCol),
          graft.functions.ShingleFunctions.hashedShingles(col("_norm"), cfg.shingleSize).as("_bases"))
        .select(col(idCol), col("_bases"),
          graft.functions.ShingleFunctions.sigOfBases(
            col("_bases"), cfg.numHashes, cfg.seed).as("sig"))
    }

  /** (id, band_idx, band_hash) from a precomputed `signatures()`
    * table — public so an already-persisted signature index can be
    * (re-)banded without touching document text (IncrementalDedup).
    */
  /** Portable band-bucket hash: md5 over "j:v1:...:vr" folded to a
    * long (the q44 house pattern) — NOT Spark's `hash()` (Murmur3),
    * which no other engine reproduces. Bucket membership must be
    * engine-reproducible for the same reason signatures are: a
    * persisted LSH index written by this engine has to be readable
    * (and auditable) by any other, and the r14 DuckDB oracle for q25
    * replays the whole banding chain bit-for-bit.
    */
  private def bandHash(sig: Column, j: Int, r: Int): Column =
    conv(substring(md5(concat_ws(":",
      lit(j.toString) +: (0 until r).map(i => element_at(sig, j * r + i + 1).cast("string")): _*)),
      1, 15), 16, 10).cast("long")

  def banded(sigs: DataFrame, idCol: String, cfg: Config): DataFrame = {
    val r = cfg.rowsPerBand
    val bandHashes = array((0 until cfg.bands).map { j =>
      bandHash(col("sig"), j, r)
    }: _*)
    sigs.select(col(idCol), posexplode(bandHashes).as(Seq("band_idx", "band_hash")))
  }

  /** (id, sig, band_idx, band_hash) — one row per band per doc. */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    val sigs = signatures(docs, idCol, textCol, cfg)
    val r = cfg.rowsPerBand
    val bandHashes = array((0 until cfg.bands).map { j =>
      bandHash(col("sig"), j, r)
    }: _*)
    sigs.select(col(idCol), col("sig"), posexplode(bandHashes).as(Seq("band_idx", "band_hash")))
  }

  /** Candidate pairs (id_a < id_b) sharing at least one band bucket.
    * Buckets larger than maxBucketSize are dropped (skew guard): a
    * bucket of size m yields m(m-1)/2 pairs, and degenerate buckets
    * (empty docs, boilerplate) would otherwise dominate the join.
    */
  private def pairsFromBanded(bandedDf: DataFrame, idCol: String, cfg: Config): DataFrame = {
    val sized = bandedDf.withColumn("_bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_hash")))
      .filter(col("_bucket_n") <= cfg.maxBucketSize)
    val a = sized.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val b = sized.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Candidate pairs from an ALREADY-COMPUTED signature table —
    * callers evaluating or composing the LSH tier branch candidates
    * AND verification off one cached/persisted `signatures()` result
    * instead of re-shingling the corpus per branch (at 100 TB the
    * signature table is the thing you materialize once).
    */
  def candidatePairsFromSignatures(sigs: DataFrame, idCol: String, cfg: Config): DataFrame =
    pairsFromBanded(banded(sigs, idCol, cfg), idCol, cfg)

  /** Verification tier: exact Jaccard over hashed shingle sets for a
    * given (id_a, id_b) candidate-pair set. Two id-keyed joins fetch
    * the 8-byte-long shingle hashes (never the text), then the native
    * merge-join expression (SortedLongJaccard) scores each pair.
    * Public so callers with their own candidate source — blocking
    * rules, a prior run's pairs, a fixed audit set — reuse the same
    * machinery that `nearDuplicates` uses after LSH pairing.
    */
  def verifyPairs(pairs: DataFrame, bases: DataFrame, idCol: String = "doc_id"): DataFrame = {
    graft.functions.ShingleFunctions.register(pairs.sparkSession)
    val sh = bases.select(col(idCol), col("_bases"))
    pairs.select("id_a", "id_b")
      .join(sh.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(sh.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.ShingleFunctions.sortedJaccard(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidates verified with true Jaccard over the (hashed) shingle
    * sets. The signature table is computed ONCE and cached — banding,
    * the bucket self-join, and both verification joins all branch from
    * it; without that, each branch re-scans the corpus and re-shingles
    * (at 100 TB: persist `signatures()` to a table instead of caching).
    * The verified-pair result (small: LSH keeps it ≪ n²) is
    * materialized eagerly so the cache is released before returning —
    * repeated callers never accumulate cached signature tables.
    * Verification compares hashed shingles (8B longs), not shingle
    * strings — same Jaccard, a fraction of the shuffle width.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double, cfg: Config = Config()): DataFrame = {
    graft.functions.ShingleFunctions.register(docs.sparkSession)
    graft.Exec.scoped { b =>
      val sigs = b.cache(signatures(docs, idCol, textCol, cfg))
      sigs.count() // fill once before the branches race
      val pairs = pairsFromBanded(banded(sigs, idCol, cfg), idCol, cfg)
      // raw exact division, no round(): the jaccard is a single
      // mirrored IEEE op, so any engine reproduces it bit-for-bit
      // (the house no-engine-round rule); a rounded presentation is
      // the caller's choice, not the operator's.
      b.cut(verifyPairs(pairs, sigs.select(col(idCol), col("_bases")), idCol)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    }
  }

  /** GROUP-LEVEL near-duplicates — mirror/aggregator detection: are
    * two HOSTS (domains, feeds, shards) serving near-identical
    * content? The minhash property that makes this scale is
    * MERGEABILITY: sig(∪ docs) = elementwise min of the member docs'
    * signatures, so a host's signature aggregates from the per-doc
    * signature table the doc-level tier already materializes — the
    * host's shingle set (corpus-scale) is never collected anywhere.
    * Banding/bucketing run at GROUP cardinality; exact verification
    * joins (group, shingle-hash) ROWS, so intersections are keyed
    * shuffles (never a set-per-group array). Jaccard is here the
    * CONTENT OVERLAP of the two hosts — the CCNet/CommonCrawl
    * host-dedup criterion.
    */
  def groupNearDuplicates(docs: DataFrame, groupCol: String, textCol: String,
                          threshold: Double, cfg: Config = Config()): DataFrame = {
    // an all-empty group has no bases and silently drops below; with
    // threshold > 0 that changes nothing (its jaccard is 0 against
    // everything), so pin the precondition instead of the edge case
    require(threshold > 0.0, s"groupNearDuplicates needs threshold > 0, got $threshold")
    graft.functions.ShingleFunctions.register(docs.sparkSession)
    val sel = docs.select(col(groupCol).as("_grp"), col(textCol).as("_t"))
    // ONE corpus pass (r15, the q201 adjudication): hashed shingle
    // bases explode straight into the distinct (group, base) table.
    // The old shape also computed a per-DOC minhash signature and
    // merged per-group mins via posexplode + two keyed exchanges —
    // but the group signature over the UNION of its members' base
    // sets is derivable from this table directly (min over a distinct
    // set = min over the multiset), so the per-doc signature tier,
    // its cache-fill job and both merge exchanges were dead weight at
    // group granularity. Same shuffle count at corpus scale (the
    // distinct is the one corpus-wide exchange either way), two fewer
    // stages and one fewer cached table at any scale.
    val basesExpr =
      if (cfg.wordShingles)
        graft.functions.ShingleFunctions.wordBases(col("_t"), cfg.shingleSize)
      else graft.functions.ShingleFunctions.hashedShingles(
        graft.functions.TextFunctions.normalized(col("_t")), cfg.shingleSize)
    val baseRows = sel.select(col("_grp"), explode(basesExpr).as("_b")).distinct()
    graft.Exec.scoped { b =>
      b.cache(baseRows).count() // fill once before the branches race
      // group signature: k min-aggregates of (a·x + b) mod P over the
      // group's distinct bases — one group-keyed exchange, map-side
      // partial mins, identical values to the per-doc-then-merge path
      val cs = coefficients(cfg.numHashes, cfg.seed)
      val minAggs = cs.zipWithIndex.map { case ((a, b), i) =>
        min(pmod(lit(a) * col("_b") + lit(b), lit(P))).as(s"_m$i")
      }
      val merged = baseRows.groupBy(col("_grp"))
        .agg(minAggs.head, minAggs.tail: _*)
        .select(col("_grp"),
          array((0 until cfg.numHashes).map(i => col(s"_m$i")): _*).as("sig"))
      val pairs = candidatePairsFromSignatures(merged, "_grp", cfg)
      val sizes = baseRows.groupBy("_grp").agg(count(lit(1)).as("_n"))
      val inter = baseRows.toDF("id_a", "_b")
        .join(pairs, Seq("id_a"))
        .join(baseRows.toDF("id_b", "_b"), Seq("id_b", "_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
      b.cut(pairs.join(inter, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("_inter"))
        .join(sizes.toDF("id_a", "_na"), Seq("id_a"))
        .join(sizes.toDF("id_b", "_nb"), Seq("id_b"))
        .withColumn("jaccard",
          when(col("_na") + col("_nb") - col("_inter") === 0L, lit(0.0))
            .otherwise(col("_inter").cast("double") /
              (col("_na") + col("_nb") - col("_inter")).cast("double")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a").as("grp_a"), col("id_b").as("grp_b"),
          col("_inter").as("n_inter"), col("_na").as("n_a"),
          col("_nb").as("n_b"), col("jaccard")))
    }
  }
}
