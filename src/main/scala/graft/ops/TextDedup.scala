package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over the `documents`
  * table (doc_id, text, lang, source, n_chars).
  *
  * All hash derivations use md5-prefix integers so the DuckDB oracle can
  * reproduce values bit-exactly; at production scale the same shapes run
  * with xxhash64 (cheaper, same plan).
  *
  * Scale notes: exact dedup is one hash-shuffle; MinHash is
  * explode -> per-key min (partial agg) -> band-bucket self-join (the only
  * quadratic step, bounded per bucket); verification joins run only on
  * LSH-surviving pairs.
  *
  * The signature family is defined here once and shared by the batch,
  * incremental and streaming paths ([[graft.streaming.StreamingNearDup]],
  * [[graft.streaming.StreamingCuration]]), which must agree bit for bit:
  * [[h32]] is the one hash (also behind SimHash, the rolling fingerprint
  * and the sampling draw), [[trigrams]] the one shingle builder,
  * [[minhashKey]] the one MinHash key and [[bandKeys]] the one band-key
  * builder. The first-writer founder rule is the streaming
  * `StreamingNearDup.founderFold`.
  */
object TextDedup {

  /** 32-bit integer from md5 prefix — cross-engine deterministic. */
  private[graft] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Word 3-grams of the word array in column `words`, in position order
    * with repeats. Under 3 words the array is empty (guarded: Spark's
    * sequence(1, 0) is the DESCENDING [1, 0], unlike SQL generate_series
    * which is empty). */
  private[graft] def trigrams(words: String): Column = expr(
    s"""CASE WHEN size($words) >= 3
       |     THEN transform(sequence(1, size($words) - 2),
       |                    i -> concat_ws(' ', $words[i-1], $words[i], $words[i+1]))
       |     ELSE array() END""".stripMargin)

  /** MinHash key j of one shingle; minhash_j of a document is the minimum
    * key over its distinct shingles. */
  private[graft] def minhashKey(shingle: Column, j: Int): Column =
    h32(concat(shingle, lit(s":$j")))

  /** LSH band bucket keys of one document: its minhashes in j order, as
    * columns, cut into bands of `rowsPerBand` and joined ",", band b at
    * index b. A partial last band would be a key no other path forms, so
    * the hash count must divide evenly. */
  private[graft] def bandKeys(minhashes: Seq[Column], rowsPerBand: Int): Seq[Column] = {
    require(rowsPerBand > 0 && minhashes.size % rowsPerBand == 0,
      s"nHashes (${minhashes.size}) must be a multiple of rowsPerBand ($rowsPerBand)")
    minhashes.grouped(rowsPerBand)
      .map(ms => concat_ws(",", ms.map(_.cast("string")): _*)).toSeq
  }

  /** Exact duplicate groups: (doc_id, text_hash, keep_id, is_dup).
    *
    * groupBy + join back rather than min-over-Window: WindowExec buffers
    * each hash group in full (an external sort on a 10^8-copy boilerplate
    * group — the pathological input for a dedup operator), while the
    * aggregate partial-combines map-side and the join back is a hash join
    * on the same shuffle key. */
  def exactDups(documents: DataFrame): DataFrame = {
    val hashed = documents.select(col("doc_id"), md5(col("text")).as("text_hash"))
    val keep = hashed.groupBy(col("text_hash")).agg(min(col("doc_id")).as("keep_id"))
    hashed.join(keep, "text_hash")
      .select(col("doc_id"), col("text_hash"), col("keep_id"),
        (col("doc_id") =!= col("keep_id")).as("is_dup"))
  }

  /** Distinct word 3-gram shingles per doc: (doc_id, shingle). Docs under
    * 3 words yield none. */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(trigrams("w")).as("shingle"))
      .distinct()

  /** MinHash signatures, 8 permutations: (doc_id, j, minhash). Single
    * pass: one groupBy with nHashes min-columns (map-side partial agg —
    * the shuffle carries one wide row per doc, not nHashes x shingle
    * rows), exploded back to long form after the aggregate. */
  def minhashSignatures(documents: DataFrame, nHashes: Int = 8,
      shinglesDf: Option[DataFrame] = None): DataFrame = {
    val mins = (0 until nHashes).map(j => min(minhashKey(col("shingle"), j)).as(s"m$j"))
    shinglesDf.getOrElse(shingles(documents))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), explode(array((0 until nHashes).map(j =>
        struct(lit(j.toLong).as("j"), col(s"m$j").as("minhash"))): _*)).as("s"))
      .select(col("doc_id"), col("s.j"), col("s.minhash"))
  }

  /** LSH candidate pairs with 4 bands x 2 rows: (a, b) doc pairs sharing
    * at least one band signature.
    *
    * `maxBucket` is the hot-bucket valve: a bucket of m docs generates
    * m*(m-1)/2 pairs, so one boilerplate-text bucket of 10^6 docs is
    * 5*10^11 pairs — at 100 TB the cap (drop buckets above it; their
    * members are near-identical boilerplate better handled by exact
    * dedup upstream) bounds the quadratic step. Default None keeps the
    * oracle-exact semantics. */
  def lshPairs(documents: DataFrame, nHashes: Int = 8, rowsPerBand: Int = 2,
               maxBucket: Option[Int] = None,
               sigsDf: Option[DataFrame] = None): DataFrame = {
    // pair dedup IN-ROW at the first surviving shared band (the same
    // positional-zip rule as Similarity.annCandidates / the blocking
    // kernels) instead of shuffling the emitted pair MULTISET through a
    // distinct(): each doc carries its per-band bucket keys (capped-away
    // slots nulled) and a pair survives only on the lowest band both
    // sides still hold — the emitted pair SET equals the distinct()
    // formulation's, which the DuckDB oracle still computes, so every
    // Verify run re-proves the equivalence (round-6 change, guide §2.3:
    // nothing downstream of the bucket join shuffles).
    // uncapped (oracle-exact) path: the per-doc band key array straight
    // out of ONE per-doc regroup of the long-form signatures (round 6,
    // §2.4). The capped path regroups the capped bucket rows instead: a
    // capped-away band is not derivable in-row, so its slot is nulled via
    // the map rebuild.
    val arr = maxBucket match {
      case None => bandKeyArrays(documents, nHashes, rowsPerBand, sigsDf)
      case Some(_) =>
        Valves.capGroups(bandBuckets(documents, nHashes, rowsPerBand, sigsDf),
            Seq("band", "bucket_key"), maxBucket)
          .groupBy(col("doc_id"))
          .agg(map_from_entries(collect_list(struct(col("band"), col("bucket_key")))).as("m"))
          .select(col("doc_id"), expr(
            s"transform(sequence(0, ${nHashes / rowsPerBand - 1}), i -> m[i])").as("ba"))
    }
    val exploded = arr
      .select(col("doc_id"), col("ba"), posexplode(col("ba")).as(Seq("band", "bucket_key")))
      .filter(col("bucket_key").isNotNull)
    graft.functions.GraftFunctions.register(documents.sparkSession)
    exploded.as("x").join(exploded.as("y"), Seq("band", "bucket_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      // codegen'd first-shared-slot loop, not the interpreted zip_with
      // HOF chain (see Similarity.annCandidates — same rule, same reason)
      .filter(expr("graft_first_shared(x.ba, y.ba) = band"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
  }

  /** One row per doc: (doc_id, ba) with `ba[b]` the [[bandKeys]] key of
    * band b, from the long-form signatures regrouped per doc in j order. */
  private def bandKeyArrays(documents: DataFrame, nHashes: Int, rowsPerBand: Int,
      sigsDf: Option[DataFrame]): DataFrame = {
    val keys = bandKeys((0 until nHashes).map(j => col("sm")(j)("minhash")), rowsPerBand)
    sigsDf.getOrElse(minhashSignatures(documents, nHashes))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("j"), col("minhash")))).as("sm"))
      .select(col("doc_id"), array(keys: _*).as("ba"))
  }

  /** Per-doc LSH band bucket keys: (doc_id, band, bucket_key) — the
    * banded MinHash signature rows [[lshPairs]] self-joins and
    * [[signatureIndex]] persists. Per-document values (each doc's minimum
    * over its own shingles), so computing them over any subset of a corpus
    * equals filtering the full-corpus frame — the property that makes the
    * incremental-dedup split consistent with the batch oracle. */
  def bandBuckets(documents: DataFrame, nHashes: Int = 8, rowsPerBand: Int = 2,
      sigsDf: Option[DataFrame] = None): DataFrame =
    bandKeyArrays(documents, nHashes, rowsPerBand, sigsDf)
      .select(col("doc_id"), posexplode(col("ba")).as(Seq("band", "bucket_key")))

  /** The persisted dedup signature index of a corpus: (doc_id, kind, key)
    * with one `kind='exact'` row (key = md5 text hash) and one
    * `kind='band:<b>'` row per LSH band (key = the band bucket key). This
    * skinny table — ~5 rows per document, no text — is what a production
    * pipeline checkpoints (e.g. via [[graft.checkpoint.CheckpointStore]])
    * so later crawl batches can dedup against a trillion-token corpus
    * WITHOUT rescanning its text: [[dedupIncremental]] probes only this
    * index. */
  def signatureIndex(documents: DataFrame, nHashes: Int = 8,
      rowsPerBand: Int = 2, sigsDf: Option[DataFrame] = None): DataFrame = {
    val exact = documents.select(col("doc_id"), lit("exact").as("kind"),
      md5(col("text")).as("key"))
    val bands = bandBuckets(documents, nHashes, rowsPerBand, sigsDf)
      .select(col("doc_id"),
        concat(lit("band:"), col("band").cast("string")).as("kind"),
        col("bucket_key").as("key"))
    exact.unionByName(bands)
  }

  /** Incremental dedup: keep/drop verdict for a NEW batch of documents
    * against an existing corpus represented only by its
    * [[signatureIndex]] — the daily-crawl-vs-curated-corpus mode of
    * deduplication, where rescanning (or re-pairing) the 100-TB prior
    * corpus per batch is not an option. One verdict row per incoming doc:
    * (doc_id, keep, reason) with the first matching reason in priority
    * order exact_prior > exact_batch > near_prior > near_batch > kept.
    * Within-batch semantics are the streaming founder rule (a doc drops
    * iff an EARLIER batch doc shares its hash / a band bucket), so a batch
    * replayed through [[graft.streaming.StreamingNearDup]] agrees.
    *
    * Scale shape: the corpus-sized prior index is SCANNED once and probed
    * with a broadcast of the new batch's key set (a crawl increment is
    * small next to the corpus by definition) — the prior corpus never
    * shuffles and its text is never read. Everything else is keyed by the
    * incoming batch: one groupBy for founders, hash joins back on doc_id.
    * Totality by construction: verdicts are left-joined onto the incoming
    * docs with false defaults, so every input doc gets exactly one row. */
  def dedupIncremental(incoming: DataFrame, priorIndex: DataFrame,
      nHashes: Int = 8, rowsPerBand: Int = 2,
      incomingIndexDf: Option[DataFrame] = None): DataFrame = {
    val newIdx = incomingIndexDf.getOrElse(
      signatureIndex(incoming, nHashes, rowsPerBand))
    val newKeys = newIdx.select(col("kind"), col("key")).distinct()
    val priorHits = priorIndex.join(broadcast(newKeys), Seq("kind", "key"), "left_semi")
      .select(col("kind"), col("key")).distinct()
    val hitNew = newIdx.join(priorHits, Seq("kind", "key"))
    def flag(df: DataFrame, name: String) =
      df.select(col("doc_id")).distinct().withColumn(name, lit(true))
    val exactPrior = flag(hitNew.filter(col("kind") === "exact"), "exact_prior")
    val nearPrior = flag(hitNew.filter(col("kind") =!= "exact"), "near_prior")
    // founder rule inside the batch: min doc_id per signature key
    val founders = newIdx.groupBy(col("kind"), col("key"))
      .agg(min(col("doc_id")).as("founder"))
    val batchDup = newIdx.join(founders, Seq("kind", "key"))
      .filter(col("doc_id") =!= col("founder"))
    val exactBatch = flag(batchDup.filter(col("kind") === "exact"), "exact_batch")
    val nearBatch = flag(batchDup.filter(col("kind") =!= "exact"), "near_batch")
    incoming.select(col("doc_id"))
      .join(exactPrior, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearPrior, Seq("doc_id"), "left")
      .join(nearBatch, Seq("doc_id"), "left")
      .withColumn("reason",
        when(coalesce(col("exact_prior"), lit(false)), "exact_prior")
          .when(coalesce(col("exact_batch"), lit(false)), "exact_batch")
          .when(coalesce(col("near_prior"), lit(false)), "near_prior")
          .when(coalesce(col("near_batch"), lit(false)), "near_batch")
          .otherwise("kept"))
      .select(col("doc_id"), (col("reason") === "kept").as("keep"), col("reason"))
  }

  /** Exact word-3-gram Jaccard for LSH-surviving pairs:
    * (a, b, inter_cnt, a_cnt, b_cnt, jaccard).
    *
    * `shinglesDf`/`pairsDf`: pass checkpointed upstream stages so a
    * pipelined run computes the shingle→minhash→bucket chain exactly once
    * (the Queries stage memoizer does this); defaults recompute. */
  def ngramJaccard(documents: DataFrame, minJaccard: Double = 0.0,
      shinglesDf: Option[DataFrame] = None,
      pairsDf: Option[DataFrame] = None): DataFrame = {
    val sh = shinglesDf.getOrElse(shingles(documents))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("cnt"))
    val pairs = pairsDf.getOrElse(lshPairs(documents, sigsDf = None))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a"), col("shingle")), "a")
      .join(sh.select(col("doc_id").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter_cnt"))
    pairs.join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter_cnt"))
      .join(counts.select(col("doc_id").as("a"), col("cnt").as("a_cnt")), "a")
      .join(counts.select(col("doc_id").as("b"), col("cnt").as("b_cnt")), "b")
      .withColumn("jaccard",
        round(col("inter_cnt") / (col("a_cnt") + col("b_cnt") - col("inter_cnt")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("inter_cnt"), col("a_cnt"), col("b_cnt"), col("jaccard"))
  }

  /** 32-bit SimHash fingerprints: (doc_id, simhash). Single pass: one
    * aggregate with 32 per-bit counter columns (map-side partial agg, no
    * 32x row expansion), then the fingerprint is folded from the counters. */
  def simhash(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("h", h32(col("word")))
    val bitSums = (0 until 32).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    words
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", (0 until 32)
        .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _))
      .select(col("doc_id"), col("simhash"))
  }

  /** Per-row SimHash as ONE column expression over a text column —
    * bit-identical to [[simhash]] (the per-bit counters are integer sums,
    * which are order-independent, so the single-row fold and the batch
    * wide-agg agree exactly). One pass over the words: a 32-counter array
    * accumulator, then the fingerprint fold. Used by the streaming path
    * where each document arrives as a single row; the batch operator
    * keeps the wide-agg shape (map-side partial aggregation). */
  def simhashColumn(textCol: String = "text"): Column = {
    val hs = transform(filter(split(col(textCol), " "), _ =!= ""), h32(_))
    // bit b of the fingerprint, as the long 2^b
    val bits = typedLit(Seq.tabulate(32)(1L << _))
    val counters = aggregate(hs, array_repeat(lit(0), 32), (acc, h) =>
      zip_with(acc, bits, (a, bit) => a + when(h.bitwiseAND(bit) =!= 0, 1).otherwise(-1)))
    aggregate(zip_with(counters, bits, (s, bit) => when(s > 0, bit).otherwise(0L)),
      lit(0L), _ + _)
  }

  /** SimHash near-duplicate pairs: (a, b, hamming) with a < b and
    * hamming(simhash_a, simhash_b) <= `maxHamming`. Candidates share one
    * of four exact 8-bit bands of the 32-bit fingerprint — by pigeonhole,
    * any pair within hamming 3 differs in at most 3 of the 4 bands, so at
    * least one band matches exactly and recall is LOSSLESS for
    * maxHamming <= 3 (the classic web-scale hamming-join scheme; unlike
    * MinHash-LSH there is no probabilistic miss). Quadratic work is
    * confined to band buckets with the same `maxBucket` valve as
    * [[lshPairs]]; the verify is one codegen'd bit_count(xor). */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3,
      maxBucket: Option[Int] = None,
      simhashDf: Option[DataFrame] = None): DataFrame = {
    require(maxHamming <= 3, "4x8-bit banding is lossless only for maxHamming <= 3")
    val sh = simhashDf.getOrElse(simhash(documents))
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"(simhash >> ${8 * i}) & 255")): _*)).as(Seq("band", "chunk")))
    val capped = Valves.capGroups(bands, Seq("band", "chunk"), maxBucket)
    val joined = capped.as("x").join(capped.as("y"), Seq("band", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
    // pair dedup in-row instead of a distinct() over the pair multiset:
    // every band chunk is derivable from the two simhash values already in
    // the joined row, so (uncapped) a pair survives only at the FIRST band
    // whose chunks agree — same emitted SET as the distinct() form the
    // DuckDB oracle computes (round-6 change, guide §2.3). With a bucket
    // cap, survival of a band is no longer row-derivable, so the valve
    // path keeps the distinct() (cap semantics unchanged).
    def project(df: DataFrame) = df
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("cast(bit_count(x.simhash ^ y.simhash) as int)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    maxBucket match {
      case None => project(joined.filter((0 until 4).map(i =>
          expr(s"((x.simhash >> ${8 * i}) & 255) = ((y.simhash >> ${8 * i}) & 255)"))
        .zipWithIndex
        .map { case (eq, i) => when(eq, lit(i)) }
        .reduce(coalesce(_, _)) === col("band")))
      case Some(_) => project(joined).distinct()
    }
  }

  /** Near-duplicate GROUPS: connected components over the LSH candidate
    * pair graph, one row per document — (doc_id, cluster_id, is_dup) with
    * cluster_id = min doc id reachable through near-dup pairs (singletons
    * cluster with themselves). The standard "keep one per near-dup
    * cluster" reduction a training-data pipeline runs after pair
    * generation; reuses the union-find contraction CC (each task contracts
    * its share of the pairs before one exchange per round, per-task memory
    * bounded), so it holds at any scale the pair step itself survives. */
  def nearDupClusters(documents: DataFrame,
      pairsDf: Option[DataFrame] = None): DataFrame = {
    val pairs = pairsDf.getOrElse(lshPairs(documents))
    val comp = graft.pipeline.ConnectedComponents
      .run(pairs.select(col("a").as("src"), col("b").as("dst")))
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("component", "cluster_id")
    documents.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
  }

  /** Benchmark decontamination (training-data hygiene): per document, how
    * many of its distinct word 3-gram shingles also appear in an
    * eval/benchmark corpus — (doc_id, contaminated_cnt, shingle_cnt,
    * contamination, is_contaminated at `minOverlap` shared shingles).
    * Production runs use longer n-grams (e.g. 13) — same plan shape.
    *
    * Scale shape: the benchmark shingle set is tiny next to the corpus
    * (eval suites are fixed-size), so it is BROADCAST and the overlap is
    * a map-side semi-join + per-doc partial count; docs never shuffle. */
  def decontaminate(documents: DataFrame, benchmark: DataFrame,
      minOverlap: Int = 1,
      shinglesDf: Option[DataFrame] = None): DataFrame = {
    val docSh = shinglesDf.getOrElse(shingles(documents))
    val benchSh = broadcast(
      shingles(benchmark).select(col("shingle")).distinct())
    val hits = docSh.join(benchSh, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("contaminated_cnt"))
    val counts = docSh.groupBy(col("doc_id")).agg(count(lit(1)).as("shingle_cnt"))
    documents.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("shingle_cnt", "contaminated_cnt"))
      .withColumn("contamination",
        when(col("shingle_cnt") === 0, lit(0.0))
          .otherwise(round(col("contaminated_cnt") / col("shingle_cnt"), 6)))
      .withColumn("is_contaminated", col("contaminated_cnt") >= minOverlap)
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTEs over the driver-registered `documents` view. */
  val ctes: String =
    """doc_words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |),
      |doc_shingles AS (
      |  SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                  FOR i IN generate_series(1, greatest(len(w) - 2, 0))]) AS shingle
      |  FROM doc_words
      |),
      |minhash_sigs AS (
      |  SELECT doc_id, j,
      |         min(('0x' || substr(md5(shingle || ':' || j::VARCHAR), 1, 8))::BIGINT) AS minhash
      |  FROM doc_shingles, (SELECT unnest(generate_series(0, 7)) AS j)
      |  GROUP BY 1, 2
      |),
      |lsh_buckets AS (
      |  SELECT doc_id, (j // 2)::INT AS band,
      |         string_agg(minhash::VARCHAR, ',' ORDER BY j) AS bucket_key
      |  FROM minhash_sigs GROUP BY 1, 2
      |),
      |lsh_pairs AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM lsh_buckets x JOIN lsh_buckets y USING (band, bucket_key)
      |  WHERE x.doc_id < y.doc_id
      |),
      |shingle_counts AS (
      |  SELECT doc_id, count(*) AS cnt FROM doc_shingles GROUP BY 1
      |),
      |ngram_jaccard AS (
      |  SELECT p.a, p.b, coalesce(i.inter_cnt, 0) AS inter_cnt,
      |         ca.cnt AS a_cnt, cb.cnt AS b_cnt,
      |         round(coalesce(i.inter_cnt, 0)
      |               / (ca.cnt + cb.cnt - coalesce(i.inter_cnt, 0)), 6) AS jaccard
      |  FROM lsh_pairs p
      |  LEFT JOIN (SELECT p.a, p.b, count(*) AS inter_cnt
      |             FROM lsh_pairs p
      |             JOIN doc_shingles sa ON sa.doc_id = p.a
      |             JOIN doc_shingles sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
      |             GROUP BY 1, 2) i ON p.a = i.a AND p.b = i.b
      |  JOIN shingle_counts ca ON ca.doc_id = p.a
      |  JOIN shingle_counts cb ON cb.doc_id = p.b
      |),
      |exact_dups AS (
      |  SELECT doc_id,
      |         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |  FROM documents
      |),
      |nd_sym AS (
      |  SELECT a AS src, b AS dst FROM lsh_pairs
      |  UNION SELECT b, a FROM lsh_pairs
      |),
      |nd_reach AS (
      |  WITH RECURSIVE r(x, y) AS (
      |    SELECT src, dst FROM nd_sym
      |    UNION
      |    SELECT r.x, e.dst FROM r JOIN nd_sym e ON r.y = e.src
      |  ) SELECT * FROM r
      |),
      |nd_labels AS (
      |  SELECT x AS doc_id, least(x, min(y)) AS cluster_id FROM nd_reach GROUP BY x
      |),
      |neardup_clusters AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
      |         d.doc_id <> coalesce(l.cluster_id, d.doc_id) AS is_dup
      |  FROM documents d LEFT JOIN nd_labels l USING (doc_id)
      |),
      |bench_shingles AS (
      |  SELECT DISTINCT shingle FROM doc_shingles WHERE doc_id % 97 = 0
      |),
      |decontam AS (
      |  SELECT d.doc_id,
      |         coalesce(c.cnt, 0) AS contaminated_cnt,
      |         coalesce(s.cnt, 0) AS shingle_cnt,
      |         CASE WHEN coalesce(s.cnt, 0) = 0 THEN 0.0::DOUBLE
      |              ELSE round(coalesce(c.cnt, 0) / s.cnt, 6) END AS contamination,
      |         coalesce(c.cnt, 0) >= 1 AS is_contaminated
      |  FROM documents d
      |  LEFT JOIN (SELECT doc_id, count(*) AS cnt
      |             FROM doc_shingles GROUP BY 1) s USING (doc_id)
      |  LEFT JOIN (SELECT doc_id, count(*) AS cnt
      |             FROM doc_shingles JOIN bench_shingles USING (shingle)
      |             GROUP BY 1) c USING (doc_id)
      |),
      |doc_simhash AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      |  FROM (
      |    SELECT doc_id, b,
      |           sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
      |    FROM (
      |      SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |      WHERE word <> ''
      |    ), (SELECT unnest(generate_series(0, 31)) AS b)
      |    GROUP BY 1, 2
      |  ) GROUP BY 1
      |),
      |simhash_bands AS (
      |  SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS chunk
      |  FROM doc_simhash, (SELECT unnest(generate_series(0, 3)) AS band)
      |),
      |simhash_neardups AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |         bit_count(xor(x.simhash, y.simhash))::INT AS hamming
      |  FROM simhash_bands x
      |  JOIN simhash_bands y ON x.band = y.band AND x.chunk = y.chunk
      |  WHERE x.doc_id < y.doc_id
      |    AND bit_count(xor(x.simhash, y.simhash)) <= 3
      |)""".stripMargin

  /** Incremental-dedup CTEs mirroring [[dedupIncremental]] with the test
    * split prior = doc_id % 5 <> 0, incoming = doc_id % 5 = 0. Composes
    * after [[ctes]] (uses lsh_buckets). Band bucket keys and text hashes
    * are per-document, so splitting the full-corpus frames by the modulo
    * equals indexing each subset separately — the same argument as the
    * Spark side's filtered shared index. */
  val incrementalCtes: String =
    """inc_prior AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
      |),
      |inc_new AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
      |),
      |inc_hash AS (
      |  SELECT doc_id, md5(text) AS text_hash FROM documents
      |),
      |inc_exact_prior AS (
      |  SELECT DISTINCT n.doc_id
      |  FROM inc_new n
      |  JOIN inc_hash hn ON hn.doc_id = n.doc_id
      |  JOIN inc_hash hp ON hp.text_hash = hn.text_hash
      |  JOIN inc_prior p ON p.doc_id = hp.doc_id
      |),
      |inc_exact_batch AS (
      |  SELECT DISTINCT n.doc_id
      |  FROM inc_new n
      |  JOIN inc_hash hn ON hn.doc_id = n.doc_id
      |  JOIN inc_hash ho ON ho.text_hash = hn.text_hash AND ho.doc_id < n.doc_id
      |  JOIN inc_new n2 ON n2.doc_id = ho.doc_id
      |),
      |inc_near_prior AS (
      |  SELECT DISTINCT x.doc_id
      |  FROM lsh_buckets x
      |  JOIN inc_new n ON n.doc_id = x.doc_id
      |  JOIN lsh_buckets y ON y.band = x.band AND y.bucket_key = x.bucket_key
      |  JOIN inc_prior p ON p.doc_id = y.doc_id
      |),
      |inc_near_batch AS (
      |  SELECT DISTINCT x.doc_id
      |  FROM lsh_buckets x
      |  JOIN inc_new nx ON nx.doc_id = x.doc_id
      |  JOIN lsh_buckets y ON y.band = x.band AND y.bucket_key = x.bucket_key
      |                    AND y.doc_id < x.doc_id
      |  JOIN inc_new ny ON ny.doc_id = y.doc_id
      |),
      |incremental_keepset AS (
      |  SELECT n.doc_id,
      |         CASE WHEN ep.doc_id IS NOT NULL THEN 'exact_prior'
      |              WHEN eb.doc_id IS NOT NULL THEN 'exact_batch'
      |              WHEN np.doc_id IS NOT NULL THEN 'near_prior'
      |              WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
      |              ELSE 'kept' END AS reason
      |  FROM inc_new n
      |  LEFT JOIN inc_exact_prior ep ON ep.doc_id = n.doc_id
      |  LEFT JOIN inc_exact_batch eb ON eb.doc_id = n.doc_id
      |  LEFT JOIN inc_near_prior np ON np.doc_id = n.doc_id
      |  LEFT JOIN inc_near_batch nb ON nb.doc_id = n.doc_id
      |)""".stripMargin
}
