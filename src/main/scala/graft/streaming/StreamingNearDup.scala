package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

import graft.ops.TextDedup

/** Streaming MinHash-LSH near-duplicate detection over a document stream
  * (doc_id, text, ts) — the continuous analogue of
  * [[graft.ops.TextDedup.lshPairs]].
  *
  * MinHash signatures depend only on a document's OWN shingle set, so they
  * are a stateless per-row projection here, built from the batch
  * operator's own definitions: shingles from
  * [[graft.ops.TextDedup.trigrams]], minhashes from
  * [[graft.ops.TextDedup.minhashKey]] and band keys from
  * [[graft.ops.TextDedup.bandKeys]], so they are bit-identical to the
  * batch keys, which the spec asserts. The only stateful step is
  * band-bucket founder tracking by the one fold [[founderFold]]: per
  * (band, bucket_key) the state store remembers the first document; later
  * arrivals in the same bucket are emitted as near-dup candidates against
  * the founder. State is one [[FounderState]] per bucket and is reaped by
  * event-time timeout past the watermark horizon, so memory is bounded by
  * (distinct buckets in horizon), shuffled by bucket key — no global
  * structures, holds at any executor count.
  */
object StreamingNearDup {

  final case class BucketRow(doc_id: Long, band: Int, bucket_key: String, ts: Timestamp)
  /** One live bucket's state: its founder's id, the newest event time seen
    * in it (ms) and the founder's payload. */
  final case class FounderState[P](founder: Long, maxTs: Long, payload: P)
  final case class DupOut(doc_id: Long, dup_of: Long, band: Int, bucket_key: String)
  final case class EmbBucketRow(vec_id: Long, t: Int, sig: Long, ts: Timestamp)
  final case class EmbDupOut(vec_id: Long, dup_of: Long, t: Int, sig: Long)
  final case class ShBucketRow(doc_id: Long, band: Int, chunk: Long, ts: Timestamp)
  final case class ShDupOut(doc_id: Long, dup_of: Long, band: Int, chunk: Long)
  // verified-stage rows: the founder's fingerprint / vector rides the
  // bucket state so the pair check runs IN the state function
  final case class ShVBucketRow(doc_id: Long, simhash: Long, band: Int,
      chunk: Long, ts: Timestamp)
  final case class ShVerifiedOut(a: Long, b: Long, hamming: Int)
  final case class EmbVBucketRow(vec_id: Long, embedding: Array[Float],
      t: Int, sig: Long, ts: Timestamp)
  final case class EmbVerifiedOut(a: Long, b: Long, cosine: Double)

  /** Corrupt-row guard for DOCUMENT streams: a NULL doc_id would throw in
    * the bucket-row encoder's non-nullable Long field and a NULL ts would
    * NPE the founder fold's event-time ordering — either one poison-pills
    * the whole long-lived query on a single bad producer row. Dropped
    * instead (NULL text already degrades to no buckets in each path). */
  private def cleanDocRows(docs: DataFrame): DataFrame =
    docs.where(col("doc_id").isNotNull && col("ts").isNotNull)

  /** Corrupt-row guard for EMBEDDING streams: NULL vec_id/ts poison-pill
    * like the document case; a NULL embedding or wrong width would get a
    * partial-prefix signature (a WRONG bucket, silently missed dups); a
    * NULL ELEMENT passes the width check and graft_lsh_sigs tolerates it,
    * but the verified path then deserializes the vector into a
    * non-nullable Array[Float] and dies — the exact rows
    * [[graft.ops.Similarity.ivfProbesBroadcast]] drops, for the same
    * reason. The batch index fails fast on ragged corpora; a stream
    * excludes the rows instead (mirrors GraftFunctions.dotF's
    * corrupt-row-degrades philosophy). */
  private def cleanEmbRows(embs: DataFrame, dims: Int): DataFrame =
    embs.where(col("vec_id").isNotNull && col("ts").isNotNull &&
      !exists(col("embedding"), _.isNull) &&
      size(col("embedding")) === dims)

  /** Full-precision event-time ordering key: TimestampType is microsecond,
    * but Timestamp.getTime truncates to milliseconds — ordering by getTime
    * alone would tie sub-millisecond arrivals and break on doc_id where
    * the batch twin's min(struct(ts, doc_id)) breaks on the microsecond. */
  private[streaming] def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** THE founder-per-bucket state fold, shared by every streaming dedup
    * path (MinHash / SimHash / embedding near-dups, their verified forms
    * and the curation verdict): rows of one bucket group arrive per
    * micro-batch, are ordered deterministically by (event time, id), the
    * first-ever row founds the bucket with its `payloadOf` in the state,
    * and `emit(row, founder, founderPayload, isDup)` shapes the output
    * (dup rows only for the near-dup paths, after an in-state check
    * against the founder's fingerprint / vector for the verified ones; a
    * verdict piece per row for curation). A path with nothing to verify
    * carries the row's id as payload; each query builder picks `P`, and
    * with it the state's encoding. State is one [[FounderState]] per live
    * bucket, reaped by event-time timeout `horizonMs` past the bucket's
    * newest row — bounded by distinct buckets inside the watermark
    * horizon, each at most one fingerprint/vector in size. */
  private[streaming] def founderFold[R, O, P](horizonMs: Long, idOf: R => Long,
      tsOf: R => Timestamp, payloadOf: R => P,
      emit: (R, Long, P, Boolean) => Iterator[O])(
      rows: Iterator[R], state: GroupState[FounderState[P]]): Iterator[O] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val sorted = rows.toSeq.sortBy(r => (micros(tsOf(r)), idOf(r)))
      var st = state.getOption
      val out = Seq.newBuilder[O]
      sorted.foreach { r =>
        st match {
          case None =>
            st = Some(FounderState(idOf(r), tsOf(r).getTime, payloadOf(r)))
            out ++= emit(r, idOf(r), payloadOf(r), false)
          case Some(f) =>
            st = Some(f.copy(maxTs = math.max(f.maxTs, tsOf(r).getTime)))
            out ++= emit(r, f.founder, f.payload, f.founder != idOf(r))
        }
      }
      st.foreach { f =>
        state.update(f)
        state.setTimeoutTimestamp(f.maxTs + horizonMs)
      }
      out.result().iterator
    }
  }

  /** Adds `band_keys`, the row's [[graft.ops.TextDedup.bandKeys]] array, to
    * a frame holding a distinct-shingle array `sh`: minhash_j = min over
    * `sh` of [[graft.ops.TextDedup.minhashKey]](s, j), the per-row form of
    * the batch aggregate. The minhashes are projected as columns
    * m0..m{n-1} before the band keys read them, so each is evaluated once.
    * Shared with [[StreamingCuration]]. */
  private[streaming] def withBandKeys(df: DataFrame, nHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val ms = (0 until nHashes).map(j => s"m$j")
    val keys = TextDedup.bandKeys(ms.map(col), rowsPerBand)
    df.select(col("*") +: ms.zipWithIndex.map { case (m, j) =>
        array_min(transform(col("sh"), TextDedup.minhashKey(_, j))).as(m) }: _*)
      .withColumn("band_keys", array(keys: _*))
      .drop(ms: _*)
  }

  /** Stateless per-row band buckets, schema (doc_id, band, bucket_key, ts):
    * the batch bucket keys exactly, over the doc's distinct
    * [[graft.ops.TextDedup.trigrams]] ([[withBandKeys]]). Docs with no
    * 3-gram (under 3 words) produce no buckets, as in batch. */
  def bandBuckets(docs: DataFrame, nHashes: Int = 8, rowsPerBand: Int = 2): DataFrame =
    withBandKeys(cleanDocRows(docs)
        .withColumn("w", split(col("text"), " "))
        .withColumn("sh", array_distinct(TextDedup.trigrams("w")))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("ts"), col("sh")), nHashes, rowsPerBand)
      .select(col("doc_id"), col("ts"),
        posexplode(col("band_keys")).as(Seq("band", "bucket_key")))
      .select(col("doc_id"), col("band"), col("bucket_key"), col("ts"))

  /** Near-dup candidates: (doc_id, dup_of, band, bucket_key), one row per
    * colliding band. First writer per bucket wins founder; ties inside one
    * micro-batch break on (ts, doc_id) for determinism. The founder-state
    * timeout horizon is derived from `latenessMinutes` so the watermark
    * and the state lifetime move together. */
  def nearDups(docs: DataFrame, latenessMinutes: Int = 10,
      nHashes: Int = 8, rowsPerBand: Int = 2): Dataset[DupOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    bandBuckets(docs, nHashes, rowsPerBand)
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[BucketRow]
      .groupByKey(r => (r.band, r.bucket_key))
      .flatMapGroupsWithState[FounderState[Long], DupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          founderFold[BucketRow, DupOut, Long](horizonMs, _.doc_id, _.ts, _.doc_id,
            (r, founder, _, dup) =>
              if (dup) Iterator(DupOut(r.doc_id, founder, key._1, key._2))
              else Iterator.empty)(rows, state)
      }
  }

  /** Stateless per-row SimHash band buckets over a document stream:
    * (doc_id, simhash, band, chunk, ts) — the four 8-bit bands of the
    * 32-bit fingerprint ([[graft.ops.TextDedup.simhashNearDups]]'s
    * candidate keys), computed per row via the shared
    * [[graft.ops.TextDedup.simhashColumn]] expression (bit-identical to
    * the batch wide-agg: integer bit-sums are order-independent). The
    * fingerprint stays on each row for the VERIFIED stage, where the
    * founder's rides the bucket state; the candidate stage ignores it.
    * Docs with no words produce no buckets, as in batch. */
  def simhashBuckets(docs: DataFrame): DataFrame =
    cleanDocRows(docs)
      .filter(size(filter(split(col("text"), " "), w => w =!= "")) > 0)
      .select(col("doc_id"), col("ts"),
        TextDedup.simhashColumn("text").as("simhash"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          expr(s"(simhash >> ${8 * i}) & 255")): _*)).as(Seq("band", "chunk")))
      .select(col("doc_id"), col("simhash"), col("band"), col("chunk"), col("ts"))

  /** Streaming SimHash near-dup candidates: (doc_id, dup_of, band, chunk)
    * — the continuous analogue of the lossless hamming-join candidate
    * stage (the bit_count verify runs downstream where both fingerprints
    * are at hand). Founder-per-bucket state, event-time eviction — same
    * bounded-memory shape as the MinHash and embedding paths. */
  def simhashNearDups(docs: DataFrame, latenessMinutes: Int = 10): Dataset[ShDupOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    simhashBuckets(docs)
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[ShBucketRow]
      .groupByKey(r => (r.band, r.chunk))
      .flatMapGroupsWithState[FounderState[Long], ShDupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          founderFold[ShBucketRow, ShDupOut, Long](horizonMs, _.doc_id, _.ts, _.doc_id,
            (r, founder, _, dup) =>
              if (dup) Iterator(ShDupOut(r.doc_id, founder, key._1, key._2))
              else Iterator.empty)(rows, state)
      }
  }

  /** Streaming SimHash near-dups WITH the hamming verify closed in-stream:
    * (a, b, hamming) pairs, a < b, hamming <= `maxHamming` — the
    * continuous analogue of [[graft.ops.TextDedup.simhashNearDups]]'s full
    * output (candidates + bit_count verify), not just its candidate stage.
    * The founder's 32-bit fingerprint is the bucket state's payload, so
    * the verify is a bitCount(xor) at emission —
    * no downstream join, no second stateful operator. One row per
    * colliding band (consumers dedup by (a, b) — on bounded input the
    * DISTINCT pair set equals the batch operator's for buckets of size
    * <= 2; bigger buckets pair against the founder only, the streaming
    * star-vs-clique semantics documented on [[nearDups]]). */
  def simhashNearDupsVerified(docs: DataFrame, maxHamming: Int = 3,
      latenessMinutes: Int = 10): Dataset[ShVerifiedOut] = {
    require(maxHamming <= 3, "4x8-bit banding is lossless only for maxHamming <= 3")
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    simhashBuckets(docs)
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[ShVBucketRow]
      .groupByKey(r => (r.band, r.chunk))
      .flatMapGroupsWithState[FounderState[Long], ShVerifiedOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          founderFold[ShVBucketRow, ShVerifiedOut, Long](
            horizonMs, _.doc_id, _.ts, _.simhash,
            (r, founder, founderFp, dup) =>
              if (!dup) Iterator.empty
              else {
                // identical expression to the batch verify:
                // cast(bit_count(x.simhash ^ y.simhash) as int)
                val h = java.lang.Long.bitCount(r.simhash ^ founderFp)
                if (h <= maxHamming)
                  Iterator(ShVerifiedOut(math.min(r.doc_id, founder),
                    math.max(r.doc_id, founder), h))
                else Iterator.empty
              })(rows, state)
      }
  }

  /** Stateless per-row random-hyperplane buckets over an EMBEDDING stream
    * (vec_id, embedding float[], ts): one (t, sig) sign-pattern bucket per
    * hash table, bit-identical to the batch index's signatures (shared
    * [[graft.ops.Similarity.sigsColumn]] expression — same md5-parity
    * weights, same fold order, same kernel). `tables`/`planes`/`dims` are
    * explicit: a stream cannot count its corpus, so the log2(n) plane
    * scaling happens at deploy time against the EXPECTED corpus size. */
  def embBuckets(embs: DataFrame, tables: Int, planes: Int, dims: Int): DataFrame = {
    // sigsColumn resolves graft_lsh_sigs at analysis time
    graft.functions.GraftFunctions.register(embs.sparkSession)
    cleanEmbRows(embs, dims)
      .select(col("vec_id"), col("ts"),
        posexplode(graft.ops.Similarity.sigsColumn(tables, planes, dims))
          .as(Seq("t", "sig")))
      .select(col("vec_id"), col("t"), col("sig"), col("ts"))
  }

  /** Streaming embedding near-dup candidates: (vec_id, dup_of, t, sig),
    * one row per colliding table — the continuous analogue of
    * [[graft.ops.Similarity.embedNearDups]]'s candidate stage (cosine
    * verification runs downstream on the emitted pairs, where both
    * vectors are at hand). Same founder-per-bucket state shape as the
    * MinHash path: one [[FounderState]] per live bucket, reaped by event-time timeout —
    * memory bounded by distinct buckets in the watermark horizon at any
    * executor count. */
  def embNearDups(embs: DataFrame, tables: Int, planes: Int, dims: Int,
      latenessMinutes: Int = 10): Dataset[EmbDupOut] = {
    val spark = embs.sparkSession
    import spark.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    embBuckets(embs, tables, planes, dims)
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[EmbBucketRow]
      .groupByKey(r => (r.t, r.sig))
      .flatMapGroupsWithState[FounderState[Long], EmbDupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          founderFold[EmbBucketRow, EmbDupOut, Long](horizonMs, _.vec_id, _.ts, _.vec_id,
            (r, founder, _, dup) =>
              if (dup) Iterator(EmbDupOut(r.vec_id, founder, key._1, key._2))
              else Iterator.empty)(rows, state)
      }
  }

  /** round(dot / (|a| * |b|), 6) with the EXACT arithmetic of the batch
    * verify column `round(graft_dot_f(ea, eb) / (graft_norm_f(ea) *
    * graft_norm_f(eb)), 6)`: index-order double folds, norms rooted before
    * multiplying, rounded by [[graft.ops.Similarity.round6]] (Spark's
    * round() on doubles, shared with every batch fold). A zero-norm vector
    * yields NaN, which round6 passes through, so it DEGRADES (fails any
    * >= minCosine check) exactly like the batch round() instead of
    * poison-pilling the streaming query. */
  private[streaming] def cosine6(a: Array[Float], b: Array[Float]): Double = {
    var d = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    graft.ops.Similarity.round6(d / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Streaming embedding near-dups WITH the cosine verify closed in-stream:
    * (a, b, cosine) pairs, a < b, cosine >= `minCosine` — the continuous
    * analogue of [[graft.ops.Similarity.embedNearDups]]'s full output.
    * The founder's vector is the bucket state's payload (one vector per
    * live bucket — still bounded by buckets in the watermark horizon), so verification happens at emission with both
    * vectors at hand: no downstream join against a vector store. One row
    * per colliding table (consumers dedup by (a, b); star-vs-clique
    * semantics as documented on [[nearDups]]). */
  def embNearDupsVerified(embs: DataFrame, tables: Int, planes: Int, dims: Int,
      minCosine: Double = 0.3, latenessMinutes: Int = 10): Dataset[EmbVerifiedOut] = {
    val spark = embs.sparkSession
    import spark.implicits._
    val horizonMs = latenessMinutes * 60 * 1000L
    // the vector rides the bucket row itself (a join back against the
    // stream would be a stream-stream join; this stays a stateless
    // per-row projection like embBuckets, same corrupt-row filter)
    graft.functions.GraftFunctions.register(spark)
    cleanEmbRows(embs, dims)
      .select(col("vec_id"), col("embedding"), col("ts"),
        posexplode(graft.ops.Similarity.sigsColumn(tables, planes, dims))
          .as(Seq("t", "sig")))
      .select(col("vec_id"), col("embedding"), col("t"), col("sig"), col("ts"))
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[EmbVBucketRow]
      .groupByKey(r => (r.t, r.sig))
      .flatMapGroupsWithState[FounderState[Array[Float]], EmbVerifiedOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          founderFold[EmbVBucketRow, EmbVerifiedOut, Array[Float]](
            horizonMs, _.vec_id, _.ts, _.embedding,
            (r, founder, founderEmb, dup) =>
              if (!dup) Iterator.empty
              else {
                val cos = cosine6(r.embedding, founderEmb)
                if (cos >= minCosine)
                  Iterator(EmbVerifiedOut(math.min(r.vec_id, founder),
                    math.max(r.vec_id, founder), cos))
                else Iterator.empty
              })(rows, state)
      }
  }
}
