package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Blocking, GreedyClustering, Tokenize}
import graft.ops.{TextDedup, Curation, Similarity, Sampling}

/** The 100-TB-SAFE configuration in one place.
  *
  * Every scale valve this library exposes — the blocking stop-key cap, the
  * LSH hot-bucket caps, the giant-component bound — defaults to EXACT
  * (reference) semantics in the individual operators so the oracled
  * queries stay bit-faithful. This object is the production entry point
  * that turns them all ON with the measured defaults, so a user gets the
  * plan that survives adversarial data (hub tokens, boilerplate buckets,
  * nickname-glued giant components) without reading four files.
  *
  * Each valve's semantic cost is bounded, not hand-waved:
  *  - `maxBlockDf` (Blocking.scala): a skipped token carries <= cap * (1/df)
  *    of a mention's score mass but O(df^2) pairs; at the cap below a
  *    single hub token can contribute at most ~10^8 pairs to one block —
  *    a bounded task — while on healthy name corpora no token reaches it
  *    (valve is a no-op, asserted in PresetsSpec).
  *  - `maxLshBucket` (TextDedup.scala): a bucket of m docs is m(m-1)/2
  *    pairs; members of over-cap buckets are near-identical boilerplate
  *    already handled by exact dedup upstream.
  *  - `annMaxBucket` (Similarity.scala): bounds the per-bucket quadratic
  *    verify at cap^2; with auto planes the expected bucket is ~16, so
  *    only pathological sign buckets are touched.
  *  - `maxComponentSize` (GreedyClustering.scala): components above it use
  *    the 3-phase strong-core path, in the one task that holds the
  *    component — fidelity to the exact BFS is machine-checked every
  *    round (q_fidelity_greedy, fidelity_diff).
  */
object Presets {

  /** Blocking stop-key valve: tokens with df above this are excluded from
    * pair generation (score-mass-bounded, see Blocking.scala). */
  val maxBlockDf: Long = 10000L

  /** MinHash-LSH hot-bucket cap for document dedup. */
  val maxLshBucket: Int = 1000

  /** Random-hyperplane LSH hot-bucket cap (also the operator default). */
  val annMaxBucket: Int = Similarity.defaultMaxBucket.get

  /** Giant-component bound for the greedy clusterer (also the operator default). */
  val maxComponentSize: Int = GreedyClustering.defaultMaxComponentSize

  /** Valve-on blocking configuration (reference thresholds, capped df). */
  val blocking: Blocking.Config = Blocking.Config(maxBlockDf = Some(maxBlockDf))

  /** End-to-end ER clustering with every valve on: mentions -> tokens ->
    * capped blocking -> bounded greedy clustering. `durableDir` persists
    * loop state to parquet for long-lived clusters (recommended in
    * production; None uses executor-local checkpoints). */
  def clusterMentions(mentions: DataFrame,
      durableDir: Option[String] = None): DataFrame = {
    val tokens = Tokenize.tokens(mentions)
    GreedyClustering.assignments(mentions, tokens,
      Blocking.candidates(tokens, blocking),
      maxComponentSize = maxComponentSize, durableDir = durableDir)
  }

  /** The capped shingle -> minhash -> LSH-pair chain, eagerly materialized:
    * keepSet's contract is that injected stages are ALREADY checkpointed
    * (the Queries memoizer does the same) — lazy frames here would
    * re-derive the whole chain per downstream signal. */
  private def dedupChain(documents: DataFrame): (DataFrame, DataFrame) = {
    val shingles = TextDedup.shingles(documents).localCheckpoint()
    val sigs = TextDedup.minhashSignatures(documents, shinglesDf = Some(shingles))
      .localCheckpoint()
    val pairs = TextDedup.lshPairs(documents,
      maxBucket = Some(maxLshBucket), sigsDf = Some(sigs)).localCheckpoint()
    (shingles, pairs)
  }

  /** Full curation verdict with the capped LSH chain: one (doc_id, keep,
    * reason) row per document. */
  def curateDocuments(documents: DataFrame, benchmark: DataFrame): DataFrame = {
    val (shingles, pairs) = dedupChain(documents)
    Curation.keepSet(documents, benchmark,
      pairsDf = Some(pairs), shinglesDf = Some(shingles))
  }

  /** End-to-end training-data assembly, one call: curation verdict ->
    * keep survivors -> leakage-safe split by near-dup cluster ->
    * target-proportion source mixing of the train split -> sequence
    * packing of the mixed train set. The dedup chain (shingles, LSH pairs)
    * is computed ONCE and shared by the curation verdict and the split
    * clusters — the stage reuse a checkpointed production pipeline gets.
    *
    * Output: one row per surviving document —
    * (doc_id, source, split, pack_id, pack_offset); pack coordinates are
    * non-null only for the mixed train set (val/test are evaluation pools,
    * never packed; train docs dropped by the mix carry split 'unused').
    *
    * Scale: every stage is the bounded production variant — capped LSH
    * buckets, union-find contracted components, broadcast fraction joins, the
    * two-phase packing scan. Nothing quadratic, nothing driver-sized
    * beyond the per-source fraction table and the pack bucket offsets. */
  def assembleDataset(documents: DataFrame, benchmark: DataFrame,
      weights: DataFrame, budget: Long = 2048): DataFrame = {
    val (shingles, pairs) = dedupChain(documents)
    // the iterative CC stage runs ONCE: the same checkpointed cluster
    // frame feeds both the verdict's near_dup flag and the split units
    val clusters = TextDedup.nearDupClusters(documents, pairsDf = Some(pairs))
      .localCheckpoint()
    val verdict = Curation.keepSet(documents, benchmark,
      pairsDf = Some(pairs), shinglesDf = Some(shingles),
      clustersDf = Some(clusters))
    val kept = documents.join(
      verdict.filter(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val split = Sampling.leakageSafeSplit(documents, clustersDf = Some(clusters))
      .select(col("doc_id"), col("split"))
    val keptSplit = kept.join(split, Seq("doc_id")).localCheckpoint()
    val train = keptSplit.filter(col("split") === "train")
    val mixedIds = Sampling.corpusMix(train, weights).select(col("doc_id"))
    val packed = Sampling.packSequences(
      train.join(mixedIds, Seq("doc_id"), "left_semi"), budget)
      .select(col("doc_id"), col("pack_id"), col("pack_offset"))
    keptSplit.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("split") === "train" && col("pack_id").isNull, "unused")
          .otherwise(col("split")).as("split"),
        col("pack_id"), col("pack_offset"))
  }

  /** Production ANN top-k: KMeans-trained IVF cells at nlist ~ sqrt(n)
    * with the RECALL-HOLDING probe rule nprobe = ceil(nlist/2)
    * ([[Similarity.autoNprobe]] — holds the probed fraction of the
    * calibrated nlist=16/nprobe=8 operating point as the corpus grows, the
    * IVF twin of autoTables holding LSH recall); measured per round in
    * BENCH.md next to the auto-scaled LSH index ([[Similarity.annTopK]]),
    * which remains the right shape for streaming/dedup-flavoured
    * workloads. */
  def annTopK(embeddings: DataFrame, k: Int = 5): DataFrame =
    Similarity.ivfTopKTrained(embeddings, k)
}
