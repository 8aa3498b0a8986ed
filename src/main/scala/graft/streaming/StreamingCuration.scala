package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ops.{TextAnalysis, TextDedup}
import StreamingNearDup.FounderState

/** Streaming corpus curation — the continuous analogue of
  * [[graft.ops.Curation.keepSet]], the keep/drop verdict a pretraining
  * pipeline runs per document.
  *
  * The batch verdict is a join of six per-doc signal frames; on a stream
  * the same decomposition holds with different mechanics per signal class:
  *
  *   - lang / quality / repetition are ROW-LOCAL projections — evaluated
  *     per arriving document through the very expressions the batch
  *     operators use ([[graft.ops.TextAnalysis.withSignalCols]]), so the
  *     two cannot diverge.
  *   - decontamination joins against a FIXED benchmark corpus: the bench
  *     shingle set is broadcast once and probed per doc shingle — exactly
  *     the hash probe the batch BroadcastHashJoin performs, O(shingles)
  *     per doc, no shuffle, no state.
  *   - exact / near duplication are the only cross-document signals. Both
  *     reduce to founder tracking over bucket keys (md5(text) for exact;
  *     for near, the MinHash band keys of [[StreamingNearDup.withBandKeys]]
  *     over the shingles of [[graft.ops.TextDedup.trigrams]], the same
  *     keys as [[StreamingNearDup.bandBuckets]]), folded by the one
  *     [[StreamingNearDup.founderFold]] in ONE flatMapGroupsWithState
  *     keyed by (band, key) with event-time-evicted founder state, then merged
  *     back to one row per document by a watermark-closed window
  *     aggregation (Spark supports aggregation after
  *     flatMapGroupsWithState in Append mode).
  *
  * Dup semantics are the streaming-native founder form: the FIRST document
  * seen in a bucket is kept, later bucket-mates are flagged — the
  * arrival-order counterpart of the batch min-id cluster representative.
  *
  * Scale shape: state is one `FounderState` (founder, maxTs, id) per live
  * bucket inside the watermark horizon, sharded by bucket key across
  * executors; the merge aggregation holds at most one open window of
  * per-doc partials.
  * Nothing is global, so the query runs at any executor count.
  */
object StreamingCuration {

  final case class BucketSig(doc_id: Long, ts: Timestamp, band: Int, key: String,
      lang_pred: String, quality: Double, top_word_ratio: Double,
      dup_3gram_ratio: Double, is_contaminated: Boolean)
  final case class VerdictPiece(doc_id: Long, ts: Timestamp, band: Int,
      is_dup: Boolean, lang_pred: String, quality: Double,
      top_word_ratio: Double, dup_3gram_ratio: Double, is_contaminated: Boolean)

  /** All non-dup curation signals as ONE stateless per-row projection over
    * a document stream (doc_id, text[, ts]): lang_pred, quality,
    * top_word_ratio, dup_3gram_ratio, shingle_cnt, contaminated_cnt,
    * contamination, is_contaminated — numerically identical to the batch
    * operators (langId / qualityScore / repetition / decontaminate), which
    * the spec asserts. `benchmark` is a STATIC frame (doc_id, text); its
    * distinct shingle set is collected and broadcast at plan time. */
  def signals(docs: DataFrame, benchmark: DataFrame,
      minOverlap: Int = 1): DataFrame = {
    val keep = docs.columns.filter(Set("doc_id", "ts")).map(col).toSeq
    withSignals(docs, benchmark, minOverlap)
      .select(keep ++ Seq(col("lang_pred"), col("quality"),
        col("top_word_ratio"), col("dup_3gram_ratio"), col("shingle_cnt"),
        col("contaminated_cnt"), col("contamination"),
        col("is_contaminated")): _*)
  }

  /** The wide per-row frame: input columns + every signal column + the
    * distinct-shingle array `sh` (feeding the MinHash bucket keys). */
  private def withSignals(docs: DataFrame, benchmark: DataFrame,
      minOverlap: Int): DataFrame = {
    val spark = docs.sparkSession
    val benchSet = spark.sparkContext.broadcast(
      TextDedup.shingles(benchmark).select(col("shingle"))
        .collect().map(_.getString(0)).toSet)
    val contamCnt = udf((sh: Seq[String]) =>
      if (sh == null) 0L else sh.count(benchSet.value.contains).toLong)
    TextAnalysis.withSignalCols(docs)
      .withColumn("sh", col("g3d"))
      .withColumn("shingle_cnt", size(col("sh")).cast("long"))
      .withColumn("contaminated_cnt", contamCnt(col("sh")))
      .withColumn("contamination",
        when(col("shingle_cnt") === 0, lit(0.0))
          .otherwise(round(col("contaminated_cnt") / col("shingle_cnt"), 6)))
      .withColumn("is_contaminated", col("contaminated_cnt") >= minOverlap)
  }

  /** One bucket row per dup-evidence key with the row-local signals along:
    * band -1 = exact text hash (every doc has it — the totality anchor),
    * bands 0..3 = MinHash band keys (only for docs with >= 1 shingle, as
    * in batch). Shared by the streaming verdict and its batch twin
    * [[keepSetBatch]] — the two cannot diverge on bucketing or signals. */
  private def bucketedPieces(docs: DataFrame, benchmark: DataFrame,
      minOverlap: Int): DataFrame = {
    // unscorable signals coalesce to the SAME defaults the batch verdict
    // uses (an all-punctuation/empty doc has NULL quality etc.; a typed
    // non-nullable Double field would otherwise poison-pill the stream)
    val coalesced = Seq(
      coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
      coalesce(col("quality"), lit(0.0)).as("quality"),
      coalesce(col("top_word_ratio"), lit(1.0)).as("top_word_ratio"),
      coalesce(col("dup_3gram_ratio"), lit(1.0)).as("dup_3gram_ratio"),
      col("is_contaminated"))
    val signalCols = Seq(col("lang_pred"), col("quality"),
      col("top_word_ratio"), col("dup_3gram_ratio"), col("is_contaminated"))
    // a NULL doc_id would throw in the BucketSig encoder's non-nullable
    // Long field and a NULL ts would NPE the founder fold's event-time
    // ordering — either poison-pills the long-lived query on one bad
    // producer row (same guard as StreamingNearDup's bucket stages).
    // Shared with keepSetBatch, so stream and batch twin stay identical.
    val clean = docs.where(col("doc_id").isNotNull && col("ts").isNotNull)
    StreamingNearDup.withBandKeys(withSignals(clean, benchmark, minOverlap)
        .select(Seq(col("doc_id"), col("ts"), col("text"), col("sh"))
          ++ coalesced: _*), 8, 2)
      .withColumn("bb", explode(concat(
        // a NULL text hashes to a NULL key, which the batch twin's
        // equi-join on (band, key) would silently drop — breaking its
        // totality contract while the stream (groupByKey tolerates null)
        // still verdicts the doc. Give each null-text doc a UNIQUE anchor
        // so it is always its own founder on BOTH paths, matching the
        // batch Curation verdict (null-text docs are never exact-flagged).
        array(struct(lit(-1).as("band"),
          coalesce(md5(col("text")),
            concat(lit("null:"), col("doc_id"))).as("bucket_key"))),
        filter(transform(col("band_keys"),
          (k, b) => struct(b.as("band"), k.as("bucket_key"))),
          _ => size(col("sh")) > 0))))
      .select(Seq(col("doc_id"), col("ts"), col("bb.band").as("band"),
        col("bb.bucket_key").as("key")) ++ signalCols: _*)
  }

  /** Reason priority shared by the streaming verdict and the batch twin:
    * exact_dup, near_dup, lang, quality, repetition, contaminated, kept. */
  private def reasonCol(keepLang: String, minQuality: Double,
      maxTopWordRatio: Double,
      maxDup3GramRatio: Double): org.apache.spark.sql.Column =
    when(col("exact_dup"), "exact_dup")
      .when(col("near_dup"), "near_dup")
      .when(col("lang_pred") =!= keepLang, "lang")
      .when(col("quality") < minQuality, "quality")
      .when(col("top_word_ratio") > maxTopWordRatio ||
        col("dup_3gram_ratio") > maxDup3GramRatio, "repetition")
      .when(col("is_contaminated"), "contaminated")
      .otherwise("kept")

  /** Streaming keep/drop verdict: one row (doc_id, keep, reason) per input
    * document, emitted once the document's event-time window closes under
    * the watermark (a verdict cannot finalize earlier anyway — a dup flag
    * depends on every bucket-mate inside the lateness horizon). Reason
    * priority and thresholds mirror the batch operator exactly:
    * exact_dup, near_dup, lang, quality, repetition, contaminated, kept.
    *
    * NOTE on the stateful-operator correctness check: this query chains
    * flatMapGroupsWithState into a windowed aggregation, a multi-stateful
    * pattern Spark's STRUCTURAL checker rejects by default because a state
    * function COULD emit rows below the global watermark. This one cannot
    * — every verdict piece is emitted in the micro-batch its document
    * arrives in, carrying the document's own event time, which the
    * watermark filter has already admitted. The residual caveat is the
    * standard one for any append-mode chain: a document arriving at the
    * very edge of the lateness horizon can find its verdict window already
    * closed and get no verdict row. The
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled`
    * override (a static pattern check — no plan or state behavior changes)
    * is therefore scoped to a CHILD session (same SparkContext, isolated
    * SQLConf) that the returned frame stays bound to: starting the query
    * picks up the child's conf, while the CALLER's session keeps Spark's
    * default guard for its own queries. */
  def keepSet(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double = 0.5,
      maxTopWordRatio: Double = 0.2,
      maxDup3GramRatio: Double = 0.2,
      keepLang: String = "en",
      minOverlap: Int = 1,
      latenessMinutes: Int = 10): DataFrame = {
    // scope the structural-check override to a child session (Scaladoc
    // NOTE); the input plan crosses sessions via a global temp view,
    // dropped again once the chain is built (Datasets analyze eagerly)
    val parent = docs.sparkSession
    val child = parent.newSession()
    child.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val vn = s"graft_curation_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    docs.createOrReplaceGlobalTempView(vn)
    val childDocs = child.table(s"global_temp.$vn")
    import child.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    val lateness = s"$latenessMinutes minutes"

    // docs_in counts one row per document (its band -1 anchor bucket);
    // verdicts_out below counts emitted verdicts. Both surface in every
    // StreamingQueryProgress.observedMetrics — the operational signal for
    // the documented horizon-edge drop (a doc arriving at the very edge of
    // the lateness window can find its verdict window already closed):
    // cumulative docs_in > cumulative verdicts_out flags silently dropped
    // docs, which the batch keepSet's totality contract never allows.
    val bucketed = bucketedPieces(childDocs, benchmark, minOverlap)
      .observe("graft_curation_in",
        count(when(col("band") === -1, 1)).as("docs_in"))

    val pieces = bucketed
      .withWatermark("ts", lateness)
      .as[BucketSig]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[FounderState[Long], VerdictPiece](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          StreamingNearDup.founderFold[BucketSig, VerdictPiece, Long](
            horizonMs, _.doc_id, _.ts, _.doc_id,
            (r, _, _, dup) => Iterator(VerdictPiece(r.doc_id, r.ts, key._1, dup,
              r.lang_pred, r.quality, r.top_word_ratio, r.dup_3gram_ratio,
              r.is_contaminated)))(rows, state)
      }

    val verdicts = pieces.toDF()
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 minute"), col("doc_id"))
      .agg(
        max(when(col("band") === -1, col("is_dup"))).as("exact_dup"),
        coalesce(max(when(col("band") =!= -1, col("is_dup"))), lit(false))
          .as("near_dup"),
        first(col("lang_pred")).as("lang_pred"),
        first(col("quality")).as("quality"),
        first(col("top_word_ratio")).as("top_word_ratio"),
        first(col("dup_3gram_ratio")).as("dup_3gram_ratio"),
        max(col("is_contaminated")).as("is_contaminated"))
      .withColumn("reason",
        reasonCol(keepLang, minQuality, maxTopWordRatio, maxDup3GramRatio))
      .select(col("doc_id"), (col("reason") === "kept").as("keep"),
        col("reason"))
      .observe("graft_curation_out", count(lit(1)).as("verdicts_out"))
    parent.catalog.dropGlobalTempView(vn)
    verdicts
  }

  /** BATCH twin of [[keepSet]]'s full output contract — the arrival-order
    * founder verdict on a bounded corpus: per bucket the founder is the
    * minimum (ts, doc_id) row (exactly the order [[StreamingNearDup
    * .founderFold]] folds in), every later bucket-mate is flagged, and the
    * same reason priority produces (doc_id, keep, reason). Shares
    * [[bucketedPieces]] and [[reasonCol]] with the streaming query by
    * construction, and is plain SQL over sortable columns — the DuckDB
    * oracle for the streaming keepSet's founder-dup merge semantics
    * (q_stream_keepset), which the windowed streaming form itself cannot
    * be (its output depends on watermark progression). */
  def keepSetBatch(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double = 0.5,
      maxTopWordRatio: Double = 0.2,
      maxDup3GramRatio: Double = 0.2,
      keepLang: String = "en",
      minOverlap: Int = 1): DataFrame = {
    val pieces = bucketedPieces(docs, benchmark, minOverlap)
    val founders = pieces.groupBy(col("band"), col("key"))
      .agg(min(struct(col("ts"), col("doc_id"))).as("f"))
      .select(col("band"), col("key"), col("f.doc_id").as("founder_id"))
    pieces.join(founders, Seq("band", "key"))
      .withColumn("is_dup", col("doc_id") =!= col("founder_id"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("band") === -1, col("is_dup"))).as("exact_dup"),
        coalesce(max(when(col("band") =!= -1, col("is_dup"))), lit(false))
          .as("near_dup"),
        first(col("lang_pred")).as("lang_pred"),
        first(col("quality")).as("quality"),
        first(col("top_word_ratio")).as("top_word_ratio"),
        first(col("dup_3gram_ratio")).as("dup_3gram_ratio"),
        max(col("is_contaminated")).as("is_contaminated"))
      .withColumn("reason",
        reasonCol(keepLang, minQuality, maxTopWordRatio, maxDup3GramRatio))
      .select(col("doc_id"), (col("reason") === "kept").as("keep"),
        col("reason"))
  }
}
