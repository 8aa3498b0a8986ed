package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming MinHash-LSH near-duplicate detection over a document stream
  * (doc_id, text, ts) — the continuous analogue of
  * [[graft.ops.TextDedup.lshPairs]].
  *
  * MinHash signatures depend only on a document's OWN shingle set, so they
  * are a stateless per-row projection here — bit-identical to the batch
  * operator's per-doc signatures (same md5-derived hash family, same
  * band/bucket keys), which the spec asserts. The only stateful step is
  * band-bucket founder tracking: per (band, bucket_key) the state store
  * remembers the first document; later arrivals in the same bucket are
  * emitted as near-dup candidates against the founder. State is one id per
  * bucket and is reaped by event-time timeout past the watermark horizon,
  * so memory is bounded by (distinct buckets in horizon), shuffled by
  * bucket key — no global structures, holds at any executor count.
  */
object StreamingNearDup {

  final case class BucketRow(doc_id: Long, band: Int, bucket_key: String, ts: Timestamp)
  final case class FounderState(founder: Long, maxTs: Long)
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

  private[streaming] def h32sql(e: String) =
    s"cast(conv(substring(md5($e), 1, 8), 16, 10) as bigint)"

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
    * path (MinHash / SimHash / embedding near-dups and the curation
    * verdict): rows of one bucket group arrive per micro-batch, are
    * ordered deterministically by (event time, id), the first-ever row
    * founds the bucket, and `emit(row, founder, isDup)` shapes the output
    * (dup rows only for the near-dup paths; a verdict piece per row for
    * curation). State is one (founder, maxTs) pair per live bucket,
    * reaped by event-time timeout `horizonMs` past the bucket's newest
    * row — bounded by distinct buckets inside the watermark horizon. */
  private[streaming] def founderFold[R, O](horizonMs: Long, idOf: R => Long,
      tsOf: R => Timestamp, emit: (R, Long, Boolean) => Iterator[O])(
      rows: Iterator[R], state: GroupState[FounderState]): Iterator[O] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val sorted = rows.toSeq.sortBy(r => (micros(tsOf(r)), idOf(r)))
      var st = state.getOption
      val out = Seq.newBuilder[O]
      sorted.foreach { r =>
        st match {
          case None =>
            st = Some(FounderState(idOf(r), tsOf(r).getTime))
            out ++= emit(r, idOf(r), false)
          case Some(f) =>
            st = Some(f.copy(maxTs = math.max(f.maxTs, tsOf(r).getTime)))
            out ++= emit(r, f.founder, f.founder != idOf(r))
        }
      }
      st.foreach { f =>
        state.update(f)
        state.setTimeoutTimestamp(f.maxTs + horizonMs)
      }
      out.result().iterator
    }
  }

  /** [[founderFold]] with a PAYLOAD carried in the founder state (the
    * founder's fingerprint / vector), so a verify step can run inside the
    * state function where both sides of the pair are at hand — same
    * ordering, founding, eviction and memory contract; state is
    * (founder, maxTs, payload) per live bucket, payload size bounded by
    * one fingerprint/vector. */
  private[streaming] def founderFoldP[R, O, P](horizonMs: Long, idOf: R => Long,
      tsOf: R => Timestamp, payloadOf: R => P,
      emit: (R, Long, P, Boolean) => Iterator[O])(
      rows: Iterator[R], state: GroupState[(Long, Long, P)]): Iterator[O] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val sorted = rows.toSeq.sortBy(r => (micros(tsOf(r)), idOf(r)))
      var st = state.getOption
      val out = Seq.newBuilder[O]
      sorted.foreach { r =>
        st match {
          case None =>
            st = Some((idOf(r), tsOf(r).getTime, payloadOf(r)))
            out ++= emit(r, idOf(r), payloadOf(r), false)
          case Some((f, maxTs, p)) =>
            st = Some((f, math.max(maxTs, tsOf(r).getTime), p))
            out ++= emit(r, f, p, f != idOf(r))
        }
      }
      st.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s._2 + horizonMs)
      }
      out.result().iterator
    }
  }

  /** MinHash signature columns m0..m{n-1} over a distinct-shingle array
    * column named `sh` — the batch hash family verbatim; shared with
    * [[StreamingCuration]]. */
  private[streaming] def minhashSigCols(nHashes: Int): Seq[org.apache.spark.sql.Column] =
    (0 until nHashes).map { j =>
      expr(s"array_min(transform(sh, s -> ${h32sql(s"concat(s, ':$j')")}))").as(s"m$j")
    }

  /** Band bucket structs (band, bucket_key) over columns m0..m{n-1}. */
  private[streaming] def bandStructCols(nHashes: Int,
      rowsPerBand: Int): Seq[org.apache.spark.sql.Column] =
    (0 until nHashes / rowsPerBand).map { b =>
      val ks = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col(s"m$j").cast("string"))
      struct(lit(b).as("band"), concat_ws(",", ks: _*).as("bucket_key"))
    }

  /** Stateless per-row band buckets, schema (doc_id, band, bucket_key, ts).
    * Matches the batch bucket keys exactly: minhash_j = min over distinct
    * word-3-gram shingles of h32(shingle ++ ":" ++ j); bucket_key = the
    * band's minhashes joined "," in j order. Docs with no 3-gram (under
    * 3 words) produce no buckets, as in batch. */
  def bandBuckets(docs: DataFrame, nHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sigs = minhashSigCols(nHashes)
    val bands = bandStructCols(nHashes, rowsPerBand)
    cleanDocRows(docs)
      .withColumn("w", split(col("text"), " "))
      .withColumn("sh", expr(
        """array_distinct(CASE WHEN size(w) >= 3
          |  THEN transform(sequence(1, size(w) - 2),
          |                 i -> concat_ws(' ', w[i-1], w[i], w[i+1]))
          |  ELSE array() END)""".stripMargin))
      .filter(size(col("sh")) > 0)
      .select((Seq(col("doc_id"), col("ts")) ++ sigs): _*)
      .select(col("doc_id"), col("ts"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket_key").as("bucket_key"), col("ts"))
  }

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
      .flatMapGroupsWithState[FounderState, DupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[FounderState]) =>
          founderFold[BucketRow, DupOut](horizonMs, _.doc_id, _.ts,
            (r, founder, dup) =>
              if (dup) Iterator(DupOut(r.doc_id, founder, key._1, key._2))
              else Iterator.empty)(rows, state)
      }
  }

  /** Stateless per-row SimHash band buckets over a document stream:
    * (doc_id, band, chunk, ts) — the four 8-bit bands of the 32-bit
    * fingerprint ([[graft.ops.TextDedup.simhashNearDups]]'s candidate
    * keys), computed per row via the shared
    * [[graft.ops.TextDedup.simhashColumn]] expression (bit-identical to
    * the batch wide-agg: integer bit-sums are order-independent). Docs
    * with no words produce no buckets, as in batch. */
  def simhashBuckets(docs: DataFrame): DataFrame =
    cleanDocRows(docs)
      .filter(size(filter(split(col("text"), " "), w => w =!= "")) > 0)
      .select(col("doc_id"), col("ts"),
        graft.ops.TextDedup.simhashColumn("text").as("simhash"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          expr(s"(simhash >> ${8 * i}) & 255")): _*)).as(Seq("band", "chunk")))
      .select(col("doc_id"), col("band"), col("chunk"), col("ts"))

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
      .flatMapGroupsWithState[FounderState, ShDupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[FounderState]) =>
          founderFold[ShBucketRow, ShDupOut](horizonMs, _.doc_id, _.ts,
            (r, founder, dup) =>
              if (dup) Iterator(ShDupOut(r.doc_id, founder, key._1, key._2))
              else Iterator.empty)(rows, state)
      }
  }

  /** [[simhashBuckets]] with the fingerprint kept on each bucket row —
    * input to the VERIFIED near-dup stage, where the founder's fingerprint
    * rides the bucket state. */
  def simhashBucketsFp(docs: DataFrame): DataFrame =
    cleanDocRows(docs)
      .filter(size(filter(split(col("text"), " "), w => w =!= "")) > 0)
      .select(col("doc_id"), col("ts"),
        graft.ops.TextDedup.simhashColumn("text").as("simhash"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          expr(s"(simhash >> ${8 * i}) & 255")): _*)).as(Seq("band", "chunk")))
      .select(col("doc_id"), col("simhash"), col("band"), col("chunk"), col("ts"))

  /** Streaming SimHash near-dups WITH the hamming verify closed in-stream:
    * (a, b, hamming) pairs, a < b, hamming <= `maxHamming` — the
    * continuous analogue of [[graft.ops.TextDedup.simhashNearDups]]'s full
    * output (candidates + bit_count verify), not just its candidate stage.
    * The founder's 32-bit fingerprint rides the bucket state (one extra
    * long per live bucket), so the verify is a bitCount(xor) at emission —
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
    simhashBucketsFp(docs)
      .withWatermark("ts", s"$latenessMinutes minutes")
      .as[ShVBucketRow]
      .groupByKey(r => (r.band, r.chunk))
      .flatMapGroupsWithState[(Long, Long, Long), ShVerifiedOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          founderFoldP[ShVBucketRow, ShVerifiedOut, Long](
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
    * MinHash path: one id per live bucket, reaped by event-time timeout —
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
      .flatMapGroupsWithState[FounderState, EmbDupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[FounderState]) =>
          founderFold[EmbBucketRow, EmbDupOut](horizonMs, _.vec_id, _.ts,
            (r, founder, dup) =>
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
    * The founder's vector rides the bucket state (state per live bucket
    * grows from two longs to one vector — still bounded by buckets in the
    * watermark horizon), so verification happens at emission with both
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
      .flatMapGroupsWithState[(Long, Long, Array[Float]), EmbVerifiedOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          founderFoldP[EmbVBucketRow, EmbVerifiedOut, Array[Float]](
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
