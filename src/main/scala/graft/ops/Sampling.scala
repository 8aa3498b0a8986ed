package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling, mixing and sequence packing — the
  * dataset-assembly operators a pretraining pipeline runs after curation
  * (keep/drop verdicts) to turn a cleaned document pool into a training
  * mix: per-stratum subsampling, target-proportion mixing across sources,
  * and concatenate-and-chunk sequence packing into fixed token budgets.
  *
  * Everything is hash-deterministic (no `rand()`): the keep decision for a
  * document is a pure function of (doc_id, salt), so reruns, retries and
  * resumed checkpoints reproduce the identical sample — the property a
  * training-data pipeline needs for lineage, and what makes every operator
  * here oracle-checkable in DuckDB (same md5 → same verdict).
  *
  * Scale shape (100 TB):
  *   - [[stratifiedSample]] is ONE scan + a broadcast join against the
  *     per-stratum fraction table (strata counts are small by definition) —
  *     no shuffle of the corpus, trivially parallel at any executor count.
  *   - [[corpusMix]] adds one map-side-combined groupBy(source) count (rows
  *     = #strata) before the same broadcast-join scan — two scans total, no
  *     corpus shuffle.
  *   - [[packSequences]] is the classic two-phase distributed prefix sum:
  *     per-range-bucket partial sums (map-side combine, ≤ `nBuckets` rows),
  *     a window over that driver-bounded frame to get bucket offsets, then
  *     a window PARTITIONED BY bucket for the within-bucket running sum —
  *     parallel across buckets; no single-partition window ever touches the
  *     corpus itself.
  */
object Sampling {

  /** Uniform hash u ∈ [0,1): [[TextDedup.h32]] of "<key>:<salt>" (the first
    * 8 hex chars of its md5 as a 32-bit int) over 2^32. Exact in IEEE double (numerator < 2^32,
    * denominator a power of two), so Spark and DuckDB agree bit-for-bit:
    * DuckDB spells it ('0x' || substr(md5(k),1,8))::BIGINT / 4294967296.0. */
  def hashU(key: Column, salt: String): Column =
    TextDedup.h32(concat_ws(":", key.cast("string"), lit(salt))).cast("double") /
      lit(4294967296.0)

  /** THE keep-decision scan shared by [[stratifiedSample]] and
    * [[corpusMix]]: hash-u draw per doc, broadcast join against the tiny
    * per-source fraction table, keep iff u < fraction — one scan, the
    * corpus never shuffles. Kept in one place so the sampling rule (salt
    * handling, join type, fraction semantics) cannot silently diverge
    * between the two operators. */
  private def sampleByFractions(documents: DataFrame, fractions: DataFrame,
      salt: String): DataFrame =
    documents
      .withColumn("u", hashU(col("doc_id"), salt))
      .join(broadcast(fractions), Seq("source"))
      .filter(col("u") < col("fraction"))

  /** Per-stratum deterministic subsample: keep a document iff its hash-u is
    * below its stratum's fraction. `fractions` is a tiny (stratum, fraction)
    * table — broadcast-joined, so the corpus never shuffles; a stratum
    * absent from `fractions` is dropped (inner join), fraction ≥ 1.0 keeps
    * the whole stratum (u < 1 always).
    *
    * Output: (doc_id, source, u) — u rounded to 6 dp for the value-hash
    * compare convention (Queries.scala:11). */
  def stratifiedSample(documents: DataFrame, fractions: DataFrame,
      salt: String = "graft"): DataFrame =
    sampleByFractions(documents, fractions, salt)
      .select(col("doc_id"), col("source"), round(col("u"), 6).as("u"))

  /** Target-proportion corpus mixing: given per-source target weights w_s
    * (any positive scale), find the LARGEST total sample T that honors the
    * proportions without oversampling any source — T = min_s(n_s / w_s)
    * over w_s > 0 (the bottleneck source is taken whole) — then
    * hash-subsample each source at fraction_s = w_s · T / n_s. The standard
    * "mix web/books/code at fixed ratios without replacement" step of
    * training-data assembly.
    *
    * The per-source counts aggregate to #strata rows (map-side combined);
    * everything after is the [[stratifiedSample]] broadcast scan.
    *
    * Output: (doc_id, source, fraction) — fraction rounded to 6 dp. */
  def corpusMix(documents: DataFrame, weights: DataFrame,
      salt: String = "graft"): DataFrame = {
    // materialized once: #strata rows, consumed by both capacity and
    // fractions — without this the corpus count scan would run twice
    val counts = documents.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val capacity = counts.join(broadcast(weights), Seq("source"))
      .filter(col("weight") > 0)
      .select(min(col("n") / col("weight")).as("t"))
    val fractions = counts.join(broadcast(weights), Seq("source"))
      .filter(col("weight") > 0)
      .crossJoin(broadcast(capacity))
      .select(col("source"),
        least(lit(1.0), col("weight") * col("t") / col("n")).as("fraction"))
    sampleByFractions(documents, fractions, salt)
      .select(col("doc_id"), col("source"),
        round(col("fraction"), 6).as("fraction"))
  }

  /** Concatenate-and-chunk sequence packing: documents are laid out in
    * doc_id order and cut every `budget` tokens — the GPT-style pretraining
    * packing where a document may span a chunk boundary. Emits, per doc,
    * the global token prefix sum and its pack coordinates:
    *   pack_id     = (cum_tokens - n_tokens) / budget   (chunk the doc STARTS in)
    *   pack_offset = (cum_tokens - n_tokens) % budget   (position within it)
    *
    * The global running sum is the two-phase scan described in the object
    * Scaladoc: doc_ids are range-bucketed into ≤ `nBuckets` buckets via one
    * min/max aggregate (no sampling, fully deterministic), bucket subtotals
    * are prefix-summed on a driver-bounded frame (≤ nBuckets rows — the
    * only unpartitioned window, and it never sees corpus rows), and each
    * bucket computes its interior running sum in parallel. Dense ids give
    * balanced buckets; wildly skewed id spaces should pre-normalize ids
    * (zipWithIndex-style) before packing.
    *
    * Output: (doc_id, n_tokens, cum_tokens, pack_id, pack_offset). */
  def packSequences(documents: DataFrame, budget: Long = 512,
      nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokenCounts(documents)
      .select(col("doc_id"), col("bpe_tokens").as("n_tokens"))
    val stats = toks.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    if (stats.isNullAt(0)) // empty corpus (e.g. an empty train mix): keep
      return toks.select(col("doc_id"), col("n_tokens"), // schema, no rows
        lit(0L).as("cum_tokens"), lit(0L).as("pack_id"),
        lit(0L).as("pack_offset")).where(lit(false))
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val width = math.max(1L, (mx - mn) / nBuckets + 1)
    val bucketed = toks.withColumn("bkt", ((col("doc_id") - mn) / width).cast("long"))
    // ≤ nBuckets rows: driver-bounded metadata, the scan's phase-1 output
    val offsets = bucketed.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bs"))
      .withColumn("off", coalesce(
        sum(col("bs")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val local = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(local))
      // `div`, not `/`: Spark's / casts longs to double, which rounds near
      // 2^53 cumulative tokens — integer division matches the oracle's //
      // at any corpus size
      .withColumn("pack_id", expr(s"(cum_tokens - n_tokens) div ${budget}L"))
      .withColumn("pack_offset", (col("cum_tokens") - col("n_tokens")) % budget)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        col("pack_id"), col("pack_offset"))
  }

  /** Leakage-safe train/val/test split: the split unit is the NEAR-DUP
    * CLUSTER, not the document — hashing doc_ids directly would let two
    * near-duplicates straddle train and test, leaking training text into
    * evaluation (the standard contamination failure of naive splits).
    * Every member of a cluster inherits the cluster representative's
    * hash-u, so clusters land in exactly one split, deterministically.
    *
    * `clustersDf` defaults to [[TextDedup.nearDupClusters]] (LSH pair graph
    * connected components); pass a precomputed frame to reuse a pipeline
    * stage. Scale shape: clustering cost is the dedup pipeline's (already
    * bucketed + union-find contracted); the split itself is one hash projection —
    * no extra shuffle.
    *
    * Output: (doc_id, cluster_id, split ∈ train|val|test). */
  def leakageSafeSplit(documents: DataFrame,
      trainFrac: Double = 0.9, valFrac: Double = 0.05,
      salt: String = "graft-split",
      clustersDf: Option[DataFrame] = None): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      s"invalid split fractions ($trainFrac, $valFrac)")
    val clusters = clustersDf.getOrElse(TextDedup.nearDupClusters(documents))
    clusters
      .withColumn("u", hashU(col("cluster_id"), salt))
      .select(col("doc_id"), col("cluster_id"),
        when(col("u") < trainFrac, "train")
          .when(col("u") < trainFrac + valFrac, "val")
          .otherwise("test").as("split"))
  }

  /** Deterministic training-order shuffle + shard assignment: each document
    * gets a hash-u draw, shard = floor(u * numShards), and u doubles as the
    * within-shard sort key — so writing shard files in shard order, each
    * sorted by (sort_key, doc_id), yields one global deterministic
    * permutation of the corpus (shards partition the u space in order).
    * The standard "shuffle the corpus before packing" step of dataset
    * assembly, as a ZERO-shuffle single projection: the writer does
    * `.repartition(numShards, col("shard")).sortWithinPartitions("sort_key",
    * "doc_id")` and the only data movement is that final write shuffle.
    *
    * Deliberately NOT `ORDER BY rand()`: rand() is re-evaluated on task
    * retry, so a lost shuffle block can duplicate or drop rows — the
    * classic nondeterministic-shuffle correctness trap. A pure hash of
    * (doc_id, salt) survives retries, resumes and re-runs bit-identically,
    * and re-salting gives a fresh epoch permutation for free.
    *
    * shard is exact: u = k/2^32 with k < 2^32, so u * numShards =
    * k * numShards / 2^32 is exact in IEEE double for numShards ≤ 2^21 and
    * floors identically on both engines.
    *
    * Output: (doc_id, shard, sort_key) with sort_key = round(u, 6). */
  def shuffleShards(documents: DataFrame, numShards: Int,
      salt: String = "graft-shuffle"): DataFrame = {
    require(numShards > 0 && numShards <= (1 << 21),
      s"numShards must be in [1, 2^21], got $numShards")
    documents
      .withColumn("u", hashU(col("doc_id"), salt))
      .select(col("doc_id"),
        floor(col("u") * numShards).as("shard"),
        round(col("u"), 6).as("sort_key"))
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTEs over the driver-registered `documents` view. The strata /
    * weight tables of the test queries derive fraction and weight from the
    * source's numeric suffix so the oracle reproduces them in pure SQL;
    * `token_counts` comes from [[TextAnalysis.ctes]] (compose after it). */
  val ctes: String =
    """doc_u AS (
      |  SELECT doc_id, source,
      |         ('0x' || substr(md5(doc_id::VARCHAR || ':graft'), 1, 8))::BIGINT
      |           / 4294967296.0::DOUBLE AS u
      |  FROM documents
      |),
      |strata_fractions AS (
      |  SELECT source,
      |         0.15::DOUBLE + 0.17::DOUBLE * (substr(source, 4)::INT % 5) AS fraction
      |  FROM (SELECT DISTINCT source FROM documents)
      |),
      |sample_stratified AS (
      |  SELECT doc_id, source, round(u, 6) AS u
      |  FROM doc_u JOIN strata_fractions USING (source)
      |  WHERE u < fraction
      |),
      |mix_weights AS (
      |  SELECT source, (substr(source, 4)::INT % 3 + 1)::DOUBLE AS weight
      |  FROM (SELECT DISTINCT source FROM documents)
      |),
      |mix_counts AS (
      |  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1
      |),
      |mix_capacity AS (
      |  SELECT min(n / weight) AS t
      |  FROM mix_counts JOIN mix_weights USING (source) WHERE weight > 0
      |),
      |mix_fractions AS (
      |  SELECT source, least(1.0::DOUBLE, weight * t / n) AS fraction
      |  FROM mix_counts JOIN mix_weights USING (source), mix_capacity
      |  WHERE weight > 0
      |),
      |corpus_mix AS (
      |  SELECT doc_id, source, round(fraction, 6) AS fraction
      |  FROM doc_u JOIN mix_fractions USING (source)
      |  WHERE u < fraction
      |),
      |pack_sequences AS (
      |  SELECT doc_id, bpe_tokens AS n_tokens,
      |         (sum(bpe_tokens) OVER w)::BIGINT AS cum_tokens,
      |         ((sum(bpe_tokens) OVER w - bpe_tokens) // 512)::BIGINT AS pack_id,
      |         ((sum(bpe_tokens) OVER w - bpe_tokens) % 512)::BIGINT AS pack_offset
      |  FROM token_counts
      |  WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |),
      |shuffle_u AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(doc_id::VARCHAR || ':graft-shuffle'), 1, 8))::BIGINT
      |           / 4294967296.0::DOUBLE AS u
      |  FROM documents
      |),
      |shuffle_shards AS (
      |  SELECT doc_id, floor(u * 8)::BIGINT AS shard, round(u, 6) AS sort_key
      |  FROM shuffle_u
      |)""".stripMargin

  /** End-to-end dataset-assembly CTEs mirroring
    * [[graft.Presets.assembleDataset]]: curation survivors -> leakage-safe
    * split -> target-proportion mix of the train split -> budget-512
    * sequence packing of the mixed train set. Composes after
    * [[TextDedup.ctes]] + [[TextAnalysis.ctes]] + [[Curation.ctes]] +
    * [[ctes]] + [[splitCtes]] (doc_u, mix_weights, token_counts, exact_dups,
    * lang_id etc. all come from those). Null pack coordinates are
    * coalesced to -1 on BOTH engines (the Spark query wrapper does the
    * same) so the driver's value hash never compares engine null
    * encodings. Window sums are ::BIGINT-cast — DuckDB's sum() OVER on
    * BIGINT returns HUGEINT and would hash-mismatch identical values.
    *
    * The preset runs the CAPPED dedup chain (Presets.maxLshBucket = 1000),
    * so the oracle must model the cap too: asm_* CTEs are HAVING-capped
    * twins of the lsh_pairs -> neardup_clusters -> keep_set -> split chain
    * (the same mirroring as the ANN ctes' lsh_sigs_capped). The uncapped
    * keep_set / leakage_split CTEs stay what the exact-semantics queries
    * (q_keep_set, q_leakage_split) check; without the twins, oracle
    * equality here would silently depend on no band bucket exceeding the
    * cap — true at test sf by luck, not by construction. */
  val assembleCtes: String =
    """asm_buckets AS (
      |  SELECT b.* FROM lsh_buckets b
      |  JOIN (SELECT band, bucket_key FROM lsh_buckets
      |        GROUP BY band, bucket_key HAVING count(*) <= 1000) c
      |  USING (band, bucket_key)
      |),
      |asm_pairs AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM asm_buckets x JOIN asm_buckets y USING (band, bucket_key)
      |  WHERE x.doc_id < y.doc_id
      |),
      |asm_nd_sym AS (
      |  SELECT a AS src, b AS dst FROM asm_pairs
      |  UNION SELECT b, a FROM asm_pairs
      |),
      |asm_nd_reach AS (
      |  WITH RECURSIVE r(x, y) AS (
      |    SELECT src, dst FROM asm_nd_sym
      |    UNION
      |    SELECT r.x, e.dst FROM r JOIN asm_nd_sym e ON r.y = e.src
      |  ) SELECT * FROM r
      |),
      |asm_nd_labels AS (
      |  SELECT x AS doc_id, least(x, min(y)) AS cluster_id FROM asm_nd_reach GROUP BY x
      |),
      |asm_clusters AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
      |         d.doc_id <> coalesce(l.cluster_id, d.doc_id) AS is_dup
      |  FROM documents d LEFT JOIN asm_nd_labels l USING (doc_id)
      |),
      |asm_keep_set AS (
      |  SELECT d.doc_id,
      |         CASE WHEN coalesce(e.is_dup, false) THEN 'exact_dup'
      |              WHEN coalesce(n.is_dup, false) THEN 'near_dup'
      |              WHEN coalesce(l.lang_pred, 'und') <> 'en' THEN 'lang'
      |              WHEN coalesce(q.quality, 0.0) < 0.5 THEN 'quality'
      |              WHEN coalesce(r.top_word_ratio, 1.0) > 0.2
      |                   OR coalesce(r.dup_3gram_ratio, 1.0) > 0.2
      |                   THEN 'repetition'
      |              WHEN coalesce(c.is_contaminated, false) THEN 'contaminated'
      |              ELSE 'kept' END AS reason
      |  FROM documents d
      |  LEFT JOIN exact_dups e USING (doc_id)
      |  LEFT JOIN asm_clusters n USING (doc_id)
      |  LEFT JOIN lang_id l USING (doc_id)
      |  LEFT JOIN quality q USING (doc_id)
      |  LEFT JOIN repetition r USING (doc_id)
      |  LEFT JOIN decontam c USING (doc_id)
      |),
      |asm_split AS (
      |  SELECT doc_id,
      |         CASE WHEN u < 0.9::DOUBLE THEN 'train'
      |              WHEN u < 0.9::DOUBLE + 0.05::DOUBLE THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |               ('0x' || substr(md5(cluster_id::VARCHAR || ':graft-split'), 1, 8))::BIGINT
      |                 / 4294967296.0::DOUBLE AS u
      |        FROM asm_clusters)
      |),
      |assemble_split AS (
      |  SELECT k.doc_id, d.source, s.split
      |  FROM asm_keep_set k
      |  JOIN documents d USING (doc_id)
      |  JOIN asm_split s USING (doc_id)
      |  WHERE k.reason = 'kept'
      |),
      |assemble_train AS (
      |  SELECT doc_id, source FROM assemble_split WHERE split = 'train'
      |),
      |assemble_counts AS (
      |  SELECT source, count(*)::BIGINT AS n FROM assemble_train GROUP BY 1
      |),
      |assemble_capacity AS (
      |  SELECT min(n / weight) AS t
      |  FROM assemble_counts JOIN mix_weights USING (source) WHERE weight > 0
      |),
      |assemble_fractions AS (
      |  SELECT source, least(1.0::DOUBLE, weight * t / n) AS fraction
      |  FROM assemble_counts JOIN mix_weights USING (source), assemble_capacity
      |  WHERE weight > 0
      |),
      |assemble_mixed AS (
      |  SELECT a.doc_id
      |  FROM assemble_train a
      |  JOIN doc_u u USING (doc_id)
      |  JOIN assemble_fractions f ON a.source = f.source
      |  WHERE u.u < f.fraction
      |),
      |assemble_pack AS (
      |  SELECT doc_id,
      |         ((sum(bpe_tokens) OVER w - bpe_tokens) // 512)::BIGINT AS pack_id,
      |         ((sum(bpe_tokens) OVER w - bpe_tokens) % 512)::BIGINT AS pack_offset
      |  FROM token_counts JOIN assemble_mixed USING (doc_id)
      |  WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |),
      |assemble_dataset AS (
      |  SELECT s.doc_id, s.source,
      |         CASE WHEN s.split = 'train' AND p.doc_id IS NULL THEN 'unused'
      |              ELSE s.split END AS split,
      |         coalesce(p.pack_id, -1)::BIGINT AS pack_id,
      |         coalesce(p.pack_offset, -1)::BIGINT AS pack_offset
      |  FROM assemble_split s LEFT JOIN assemble_pack p USING (doc_id)
      |)""".stripMargin

  /** Split CTEs, separate because they build on `neardup_clusters` —
    * compose after [[TextDedup.ctes]]. Fractions mirror the
    * [[leakageSafeSplit]] defaults with ::DOUBLE literals. */
  val splitCtes: String =
    """split_u AS (
      |  SELECT doc_id, cluster_id,
      |         ('0x' || substr(md5(cluster_id::VARCHAR || ':graft-split'), 1, 8))::BIGINT
      |           / 4294967296.0::DOUBLE AS u
      |  FROM neardup_clusters
      |),
      |leakage_split AS (
      |  SELECT doc_id, cluster_id,
      |         CASE WHEN u < 0.9::DOUBLE THEN 'train'
      |              WHEN u < 0.9::DOUBLE + 0.05::DOUBLE THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM split_u
      |)""".stripMargin
}
