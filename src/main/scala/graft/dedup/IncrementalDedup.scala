package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection: dedup a NEW batch of
  * documents against the signature index of an EXISTING corpus —
  * the daily-ingest shape a production pipeline actually runs. The
  * full corpus is never re-shingled and its text is never read:
  * matching happens entirely between the batch's signatures and the
  * persisted index.
  *
  * The index is the `MinHashLsh.signatures()` table
  * (id, _bases, sig — ~300 B/doc regardless of document size),
  * written once per corpus and appended after each accepted batch.
  * Ingest then is:
  *   1. signature pass over the batch only (map-side, no shuffle);
  *   2. LSH band join batch-bands × index-bands (the only shuffle
  *      that touches the corpus, and it carries band hashes + ids,
  *      never text);
  *   3. exact-Jaccard verification over the stored hashed shingle
  *      sets for candidate pairs only;
  *   4. verdict per batch doc: novel, or duplicate of which corpus
  *      doc.
  * Determinism: signatures, band hashes and Jaccard are pure
  * functions of (text, cfg.seed), so the same batch against the same
  * index always yields the same verdicts — and equals the full-corpus
  * `nearDuplicates` run restricted to batch×corpus pairs
  * (IncrementalDedupSpec asserts this equivalence).
  *
  * Reference: Restaurant-ETL's process_menu.py re-processes whole
  * directories per run; this operator is the scale path that replaces
  * "re-run everything" with "match the delta against the index".
  */
object IncrementalDedup {

  /** Build (or rebuild) the persistable corpus signature index:
    * (idCol, _bases, sig). Write this to parquet once; `dedupBatch`
    * consumes it as-is, including straight after a parquet round-trip.
    */
  def buildIndex(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 cfg: MinHashLsh.Config = MinHashLsh.Config()): DataFrame =
    MinHashLsh.signatures(corpus, idCol, textCol, cfg)

  /** Per-side LSH skew guard: drop buckets larger than
    * cfg.maxBucketSize (degenerate boilerplate buckets would turn the
    * band join quadratic — same guard as MinHashLsh.pairsFromBanded).
    */
  private def guarded(bands: DataFrame, cfg: MinHashLsh.Config): DataFrame =
    bands.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy("band_idx", "band_hash")))
      .filter(col("_bn") <= cfg.maxBucketSize)
      .drop("_bn")

  /** Verified matches (batch_id, corpus_id, jaccard ≥ threshold).
    * Candidates come from the band join; Jaccard is exact over the
    * stored hashed shingle sets (raw one-division double, same as
    * MinHashLsh.nearDuplicates, so results are comparable). The match
    * table (small: verified candidates only) is materialized eagerly
    * so the batch-signature cache is released before returning — a
    * per-micro-batch caller (StreamingIngest) would otherwise
    * accumulate one cached signature table per batch for the life of
    * the session.
    */
  def matches(index: DataFrame, batch: DataFrame,
              idCol: String = "doc_id", textCol: String = "text",
              threshold: Double = 0.8,
              cfg: MinHashLsh.Config = MinHashLsh.Config()): DataFrame = {
    graft.functions.ShingleFunctions.register(batch.sparkSession)
    graft.Exec.scoped { b =>
      val batchSigs = b.cache(MinHashLsh.signatures(batch, idCol, textCol, cfg))
      batchSigs.count() // fill once before the branches race
      val idxBands = guarded(MinHashLsh.banded(index, idCol, cfg), cfg)
        .select(col("band_idx"), col("band_hash"), col(idCol).as("corpus_id"))
      val batBands = guarded(MinHashLsh.banded(batchSigs, idCol, cfg), cfg)
        .select(col("band_idx"), col("band_hash"), col(idCol).as("batch_id"))
      val candidates = batBands.join(idxBands, Seq("band_idx", "band_hash"))
        .select(col("batch_id"), col("corpus_id"))
        .distinct()
      b.cut(candidates
        .join(index.select(col(idCol).as("corpus_id"), col("_bases").as("sh_a")), Seq("corpus_id"))
        .join(batchSigs.select(col(idCol).as("batch_id"), col("_bases").as("sh_b")), Seq("batch_id"))
        // raw exact division (the r14 no-round change, matching
        // MinHashLsh.nearDuplicates): one mirrored IEEE op any engine
        // reproduces bit-for-bit
        .withColumn("jaccard",
          graft.functions.ShingleFunctions.sortedJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("batch_id"), col("corpus_id"), col("jaccard")))
    }
  }

  /** Close the ingest loop: the next index = old index ∪ signatures
    * of the batch docs ACCEPTED as novel. Signatures are pure
    * functions of (text, cfg), so appending equals rebuilding from
    * scratch over corpus ∪ accepted docs (spec-asserted) — the index
    * never needs a full recompute, which is the entire point at
    * 100 TB (in production: append the new rows to the index table).
    */
  def appendAccepted(index: DataFrame, batch: DataFrame, verdicts: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     cfg: MinHashLsh.Config = MinHashLsh.Config()): DataFrame = {
    val novelIds = verdicts.filter(col("is_novel")).select(col(idCol))
    val accepted = batch.join(novelIds, Seq(idCol), "left_semi")
    index.unionByName(MinHashLsh.signatures(accepted, idCol, textCol, cfg))
  }

  /** Within-batch duplicate verdicts: batch docs that near-dup-match
    * a SMALLER-id doc in the same batch, in the same verdict schema
    * as [[dedupBatch]] (matched_id = min matching smaller batch id —
    * which may itself be a duplicate of a corpus doc; "duplicate of"
    * chains resolve through the keeper's own verdict). Run this
    * BEFORE the index check and exclude the flagged docs from it:
    * otherwise two identical docs arriving in one ingest batch are
    * both verdicted novel and both enter the index permanently.
    */
  def selfDuplicates(batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     threshold: Double = 0.8,
                     cfg: MinHashLsh.Config = MinHashLsh.Config()): DataFrame =
    MinHashLsh.nearDuplicates(batch, idCol, textCol, threshold, cfg)
      .select(
        least(col("id_a"), col("id_b")).as("_keep"),
        greatest(col("id_a"), col("id_b")).as("_dup"),
        col("jaccard"))
      .groupBy(col("_dup"))
      .agg(min(col("_keep")).as("matched_id"),
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_jaccard"))
      .select(col("_dup").as(idCol), lit(false).as("is_novel"),
        col("matched_id"), col("n_matches"), col("best_jaccard"))

  /** Verdict per batch doc: is_novel (no corpus match ≥ threshold),
    * matched_id (min matching corpus id, null when novel), n_matches.
    */
  def dedupBatch(index: DataFrame, batch: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 threshold: Double = 0.8,
                 cfg: MinHashLsh.Config = MinHashLsh.Config()): DataFrame = {
    val m = matches(index, batch, idCol, textCol, threshold, cfg)
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("matched_id"),
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_jaccard"))
    batch.select(col(idCol))
      .join(m, col(idCol) === col("batch_id"), "left")
      .select(col(idCol),
        col("matched_id").isNull.as("is_novel"),
        col("matched_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_jaccard"))
  }
}
