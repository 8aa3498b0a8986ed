package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array_join, expr, length, lit, when}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import StreamingMentions._

  private def turn(c: String, i: Int, text: String, tsMin: Int) =
    Turn(c, i, "user", text, null, new Timestamp(1735689600000L + tsMin * 60000L))

  private val turns = Seq(
    turn("c1", 0, "pull [[ann lee]] please", 0),
    turn("c1", 1, "searching [[ann lee]]", 1),
    turn("c1", 2, "found 3 rows", 2),
    turn("c1", 3, "saved [[ann lee]]", 3),
    turn("c2", 0, "pull [[bo kim]] please", 0),
    turn("c2", 3, "saved [[bo kim]]", 2))

  test("streaming doc assembly emits once per closed conversation, batch-equal") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val q = assembleDocs(in.toDS())
      .writeStream.format("memory").queryName("docs_out")
      .outputMode(OutputMode.Append).start()
    try {
      // feed c1 in two batches; c2 completes in the second
      in.addData(turns.take(3))
      q.processAllAvailable()
      assert(spark.table("docs_out").count() === 0) // c1 not closed yet
      in.addData(turns.drop(3))
      q.processAllAvailable()
      val out = spark.table("docs_out").as[DocOut].collect()
        .map(d => d.conv_id -> d).toMap
      assert(out.keySet === Set("c1", "c2"))
      assert(out("c1").n_turns === 4)
      assert(out("c1").doc.startsWith("pull [[ann lee]]"))
      assert(out("c1").doc.split("\n").length === 4)
      assert(out("c2").doc === "pull [[bo kim]] please\nsaved [[bo kim]]")
      // batch equivalence for the closed full conversation
      val batch = graft.pipeline.Canonicalize
        .mentionDocs(turns.filter(_.conv_id == "c1").toDF())
        .select($"doc").as[String].head()
      assert(out("c1").doc === batch)
    } finally q.stop()
  }

  test("watermarked mention weights aggregate occurrences per window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val q = mentionWeights(in.toDS().toDF())
      .writeStream.format("memory").queryName("weights_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(turns)
      q.processAllAvailable()
      val w = spark.table("weights_out")
        .select($"name", $"weight").as[(String, Long)].collect().toMap
      assert(w("ann lee") === 3L)
      assert(w("bo kim") === 2L)
    } finally q.stop()
  }

  test("streaming near-dup: per-row buckets equal batch; founders flag later dups") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    final case class Doc(doc_id: Long, text: String, ts: Timestamp)
    def doc(id: Long, text: String, tsMin: Int) =
      (id, text, new Timestamp(1735689600000L + tsMin * 60000L))
    val docs = Seq(
      doc(1L, "the quick brown fox jumps over the lazy dog today", 0),
      doc(2L, "the quick brown fox jumps over the lazy dog tonight", 1),
      doc(3L, "completely different text with no overlap at all whatsoever", 1),
      // under 3 words: no shingle, so no bucket on either side
      doc(4L, "two words", 1),
      // a repeated trigram: the signature is over DISTINCT shingles
      doc(5L, "spam eggs spam eggs spam eggs and ham", 1),
      // doc 3's text under another id: collides in every band
      doc(6L, "completely different text with no overlap at all whatsoever", 2))
    val docsDf = docs.toDF("doc_id", "text", "ts")

    // bucket keys bit-equal to the batch LSH operator
    val streamKeys = StreamingNearDup.bandBuckets(docsDf)
      .select($"doc_id", $"band", $"bucket_key")
      .as[(Long, Int, String)].collect().toSet
    val batchDocs = docsDf.withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length($"text"))
    val batchSigs = graft.ops.TextDedup.minhashSignatures(batchDocs)
      .withColumn("band", ($"j" / 2).cast("int"))
      .groupBy($"doc_id", $"band")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(j, minhash))), x -> x.minhash)"), ",")
        .as("bucket_key"))
      .as[(Long, Int, String)].collect().toSet
    assert(streamKeys === batchSigs)
    assert(streamKeys.map(_._1) === Set(1L, 2L, 3L, 5L, 6L))
    assert(streamKeys.map(_._2) === Set(0, 1, 2, 3))

    // founder tracking across micro-batches: doc 1 arrives first, doc 2
    // collides later -> flagged against founder 1; doc 6 against founder 3
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.nearDups(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(1))
      q.processAllAvailable()
      in.addData(docs.drop(1))
      q.processAllAvailable()
      val dups = spark.table("neardup_out")
        .select($"doc_id", $"dup_of").distinct().as[(Long, Long)].collect().toSet
      assert(dups === Set((2L, 1L), (6L, 3L)))
      // pair set matches the batch LSH candidate pairs
      val batchPairs = graft.ops.TextDedup.lshPairs(batchDocs)
        .as[(Long, Long)].collect().toSet
      assert(batchPairs === Set((1L, 2L), (3L, 6L)))
    } finally q.stop()
  }

  test("band-key builders reject a hash count that does not split into whole bands") {
    val spark2 = spark
    import spark2.implicits._
    val docsDf = Seq((1L, "the quick brown fox jumps over the lazy dog",
      new Timestamp(1735689600000L))).toDF("doc_id", "text", "ts")
    val batchDocs = docsDf.withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length($"text"))
    // 8 hashes in bands of 3 would leave a partial third band (j = 6, 7)
    val thrown = Seq(
      intercept[IllegalArgumentException](
        graft.ops.TextDedup.signatureIndex(batchDocs, 8, 3).collect()),
      intercept[IllegalArgumentException](
        graft.ops.TextDedup.lshPairs(batchDocs, 8, 3).collect()),
      intercept[IllegalArgumentException](
        StreamingNearDup.bandBuckets(docsDf, 8, 3).collect()))
    thrown.foreach { e =>
      assert(e.getMessage.contains("8") && e.getMessage.contains("3"), e.getMessage)
    }
  }

  test("streaming near-dup at sf0.01 volume: founder state is evicted past the watermark") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val half = texts.length / 2
    val t0 = 1735689600000L
    def ts(ms: Long) = new Timestamp(ms)
    // batch 1 at t0, batch 2 three hours later (watermark lateness is
    // 10 min, so after batch 2 every batch-1 founder is past its horizon)
    val b1 = texts.take(half).map { case (id, tx) => (id, tx, ts(t0 + (id % 60) * 1000)) }
    val b2 = texts.drop(half).map { case (id, tx) =>
      (id, tx, ts(t0 + 3 * 3600 * 1000L + (id % 60) * 1000)) }
    // out-of-order tail BEYOND the watermark: must be dropped, not stateful
    val late = texts.take(5).map { case (id, tx) => (id + 10000000L, tx, ts(t0)) }
    val b3 = Seq((90000001L, "first fresh doc that advances the watermark far beyond batch two", ts(t0 + 6 * 3600 * 1000L)))
    val b4 = Seq((90000002L, "second fresh doc that advances the watermark beyond batch three", ts(t0 + 9 * 3600 * 1000L)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.nearDups(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_scale")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(b1); q.processAllAvailable()
      val afterB1 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(afterB1 > 500, s"state should hold batch-1 founders, got $afterB1")
      in.addData(b2); q.processAllAvailable()
      in.addData(late); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable() // evicts batch-1 founders
      in.addData(b4); q.processAllAvailable() // evicts batch-2 founders
      val afterB4 = q.lastProgress.stateOperators.head.numRowsTotal
      // all sf0.01 founders reaped; only the two fresh docs' buckets remain
      assert(afterB4 <= 8, s"state must be bounded by the horizon, got $afterB4")
      // the beyond-watermark tail contributed no output rows
      assert(spark.table("neardup_scale")
        .filter($"doc_id" >= 10000000L && $"doc_id" < 90000000L).count() === 0)
    } finally q.stop()
  }

  test("streaming embedding near-dup: per-row sigs bit-equal batch; founders flag later dups") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20).localCheckpoint()
    val (tables, planes, dims) = (4, 5, 64)
    // 1) per-row signatures are BIT-EQUAL to the batch index (shared
    // sigsColumn expression)
    val streamed = StreamingNearDup.embBuckets(
      emb.withColumn("ts", lit(new Timestamp(t0))), tables, planes, dims)
      .select($"vec_id", $"t".cast("long"), $"sig")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ops.Similarity.lshSignatures(emb, tables, planes)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)

    // 2) founder tracking: an identical vector arriving later is flagged
    // against the founder in EVERY table; an unrelated one is not
    val v = emb.orderBy($"vec_id").limit(1)
      .select($"embedding").as[Seq[Float]].collect().head
    val w = emb.orderBy($"vec_id".desc).limit(1)
      .select($"embedding").as[Seq[Float]].collect().head
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val q = StreamingNearDup.embNearDups(
      in.toDF().toDF("vec_id", "embedding", "ts")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      tables, planes, dims)
      .writeStream.format("memory").queryName("emb_neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, v, ts(0)))
      q.processAllAvailable()
      in.addData((2L, v, ts(1)), (3L, w, ts(1)))
      q.processAllAvailable()
      val dups = spark.table("emb_neardup_out")
        .select($"vec_id", $"dup_of").as[(Long, Long)].collect()
      assert(dups.toSet === Set((2L, 1L)), s"got ${dups.toSeq}")
      assert(dups.length === tables, "identical vectors collide in every table")
    } finally q.stop()
  }

  test("streaming simhash near-dup: per-row fingerprint bit-equal batch; founders flag later dups") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    // 1) the per-row simhash expression is BIT-EQUAL to the batch wide-agg
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100).localCheckpoint()
    val perRow = docsDf
      .select($"doc_id", graft.ops.TextDedup.simhashColumn("text").as("simhash"))
      .as[(Long, Long)].collect().toMap
    val batch = graft.ops.TextDedup.simhash(docsDf)
      .as[(Long, Long)].collect().toMap
    assert(perRow === batch)

    // 2) founder tracking: an identical doc arriving later is flagged
    // against the founder in all four bands
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.simhashNearDups(
      in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("sh_neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog", ts(0)))
      q.processAllAvailable()
      in.addData(
        (2L, "the quick brown fox jumps over the lazy dog", ts(1)),
        (3L, "entirely unrelated content about database engines", ts(1)))
      q.processAllAvailable()
      val dups = spark.table("sh_neardup_out")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect()
      assert(dups.toSet === Set((2L, 1L)), s"got ${dups.toSeq}")
      assert(dups.length === 4, "identical docs collide in all four bands")
    } finally q.stop()
  }

  test("batch incremental dedup agrees with the streaming founder path on a prior-then-batch replay") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    // the same MinHash band keys drive both paths, and both apply the
    // founder rule — so replaying prior-then-incoming through the stream
    // must flag exactly the docs the batch incremental op drops (fixture
    // has no exact dups, so every drop is a near reason). A~B and C~D
    // share LSH bands (precomputed md5 parity, as in OpsSpec).
    val A = "the quick brown fox jumps over the lazy dog today"
    val B = "the quick brown fox jumps over the lazy dog tonight"
    val C = "sphinx of black quartz judge my vow this fine morning"
    val D = "sphinx of black quartz judge my vow this fine evening"
    val G = "completely different words entirely unrelated to anything else written"
    def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
    val prior = docsDf((1L, A), (2L, "some prior unique corpus text that nothing matches at all"))
    val incoming = docsDf((101L, B), (102L, C), (103L, D), (105L, G))
    val batchDropped = graft.ops.TextDedup.dedupIncremental(
      incoming, graft.ops.TextDedup.signatureIndex(prior))
      .filter(!$"keep").select($"doc_id", $"reason")
      .as[(Long, String)].collect().toMap
    assert(batchDropped === Map(101L -> "near_prior", 103L -> "near_batch"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.nearDups(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("inc_replay_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, A, ts(0)),
        (2L, "some prior unique corpus text that nothing matches at all", ts(0)))
      q.processAllAvailable()
      in.addData((101L, B, ts(1)), (102L, C, ts(1)), (103L, D, ts(1)), (105L, G, ts(1)))
      q.processAllAvailable()
      val streamFlagged = spark.table("inc_replay_out")
        .filter($"doc_id" >= 100L).select($"doc_id").as[Long].collect().toSet
      assert(streamFlagged === batchDropped.keySet,
        s"stream flagged $streamFlagged, batch dropped ${batchDropped.keySet}")
    } finally q.stop()
  }

  test("streaming VERIFIED simhash near-dups equal the batch operator's pair set") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    // near-dup groups of size 2 (founder-star == clique there), plus
    // unrelated docs: the verified streaming pair set must equal the batch
    // operator's FULL output (candidates + bit_count verify), not just
    // match candidates
    val d1 = "the quick brown fox jumps over the lazy dog in the morning sun"
    val d3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val founders = Seq((1L, d1), (3L, d3))
    val later = Seq(
      (2L, d1),                                               // hamming 0
      (4L, d3.replace("kappa", "kappa")),                     // small hamming
      (5L, "completely unrelated text about database engines and storage"),
      (6L, "another distinct document mentioning compilers and type systems"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.simhashNearDupsVerified(
      in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("shv_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(founders.map { case (id, t) => (id, t, ts(0)) })
      q.processAllAvailable()
      in.addData(later.map { case (id, t) => (id, t, ts(1)) })
      q.processAllAvailable()
      val streamed = spark.table("shv_out").distinct()
        .as[(Long, Long, Int)].collect().toSet
      val batchDocs = (founders ++ later).toDF("doc_id", "text")
      val batch = graft.ops.TextDedup.simhashNearDups(batchDocs)
        .as[(Long, Long, Int)].collect().toSet
      assert(streamed === batch, s"streamed $streamed != batch $batch")
      assert(streamed.map(p => (p._1, p._2)).contains((1L, 2L)))
      assert(streamed.forall(_._3 <= 3))
    } finally q.stop()
  }

  test("verified streaming semantics at bucket size > 2: founder star inside batch clique, same dup verdicts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    // a 4-doc identical group (founder 1 arrives first, 2/3/4 across later
    // micro-batches), plus noise: at size > 2 the streaming output is the
    // founder STAR, not the batch clique — the documented contract is
    // (a) star SUBSET OF clique, (b) identical per-doc dup verdicts after
    // the batch side's cluster reduction, (c) every pair names the founder
    val g = "the quick brown fox jumps over the lazy dog in the morning sun"
    val all = Seq((1L, g), (2L, g), (3L, g), (4L, g),
      (5L, "completely unrelated text about database engines and storage"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingNearDup.simhashNearDupsVerified(
      in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("shv_star_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, g, ts(0)))
      q.processAllAvailable()
      in.addData((2L, g, ts(1)), (5L, all(4)._2, ts(1)))
      q.processAllAvailable()
      in.addData((3L, g, ts(2)), (4L, g, ts(2)))
      q.processAllAvailable()
      val streamed = spark.table("shv_star_out").distinct()
        .as[(Long, Long, Int)].collect().toSet
      val batchDocs = all.toDF("doc_id", "text")
      val batch = graft.ops.TextDedup.simhashNearDups(batchDocs)
        .as[(Long, Long, Int)].collect().toSet
      // (a) star within clique: every streamed pair is a true batch pair
      assert(streamed.subsetOf(batch), s"streamed $streamed not in batch $batch")
      // (c) star shape: the founder (first arrival, doc 1) is an endpoint
      // of every streamed pair
      assert(streamed === Set((1L, 2L, 0), (1L, 3L, 0), (1L, 4L, 0)))
      assert(batch.map(p => (p._1, p._2)) ===
        Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      // (b) the verdicts agree: docs flagged as dups downstream (streaming:
      // non-founder pair members; batch: non-representative cluster members)
      val streamFlagged = streamed.map(_._2)
      val batchFlagged = graft.ops.TextDedup.nearDupClusters(batchDocs,
        pairsDf = Some(graft.ops.TextDedup.simhashNearDups(batchDocs)
          .select($"a", $"b")))
        .filter($"is_dup").select($"doc_id").as[Long].collect().toSet
      assert(streamFlagged === batchFlagged && streamFlagged === Set(2L, 3L, 4L))
    } finally q.stop()
  }

  test("streaming VERIFIED embedding near-dups equal batch embedNearDups at threshold") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    val (tables, planes, dims) = (4, 5, 64)
    val minCos = 0.9 // only the planted identical pairs qualify
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy($"vec_id").limit(6)
      .select($"embedding").as[Seq[Float]].collect()
    // ids 1/3 found their buckets at ts0; their identical twins 2/4 plus
    // unrelated vectors arrive later
    val founders = Seq((1L, base(0)), (3L, base(1)))
    val later = Seq((2L, base(0)), (4L, base(1)), (5L, base(2)), (6L, base(3)))
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    def asEmb(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", $"embedding".cast("array<float>"))
    val q = StreamingNearDup.embNearDupsVerified(
      asEmb(in.toDF().toDF("vec_id", "embedding", "ts")),
      tables, planes, dims, minCosine = minCos)
      .writeStream.format("memory").queryName("embv_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(founders.map { case (id, v) => (id, v, ts(0)) })
      q.processAllAvailable()
      in.addData(later.map { case (id, v) => (id, v, ts(1)) })
      q.processAllAvailable()
      val streamed = spark.table("embv_out").distinct()
        .as[(Long, Long, Double)].collect().toSet
      val batchEmb = asEmb((founders ++ later).toDF("vec_id", "embedding"))
      val batch = graft.ops.Similarity.embedNearDups(batchEmb,
        minCosine = minCos, tables = tables, planes = planes)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === batch, s"streamed $streamed != batch $batch")
      assert(streamed.map(p => (p._1, p._2)) === Set((1L, 2L), (3L, 4L)))
      assert(streamed.forall(_._3 >= minCos))
    } finally q.stop()
  }

  test("verified embedding stream degrades corrupt rows instead of dying") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1735689600000L
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    val (tables, planes, dims) = (4, 5, 64)
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy($"vec_id").limit(2).select($"embedding").as[Seq[Float]].collect()
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    // corrupt shapes arrive via marker ids and are corrupted in the plan —
    // a MemoryStream tuple cannot carry null primitives directly. 9001 =
    // NULL vec_id, 9002 = ragged width, 9003 = NULL element at full width
    // (the shape that passes the width check but would kill the
    // non-nullable Array[Float] state encoder), 9004 = NULL event time.
    val raw = in.toDF().toDF("vec_id", "embedding", "ts")
      .withColumn("embedding", $"embedding".cast("array<float>"))
      .withColumn("embedding",
        when($"vec_id" === 9002L, expr("slice(embedding, 1, 2)"))
          .when($"vec_id" === 9003L, expr(
            "transform(embedding, (x, i) -> IF(i = 3, cast(null as float), x))"))
          .otherwise($"embedding"))
      .withColumn("ts",
        when($"vec_id" === 9004L, lit(null).cast("timestamp")).otherwise($"ts"))
      .withColumn("vec_id",
        when($"vec_id" === 9001L, lit(null).cast("bigint")).otherwise($"vec_id"))
    val q = StreamingNearDup.embNearDupsVerified(raw, tables, planes, dims,
      minCosine = 0.9)
      .writeStream.format("memory").queryName("embv_corrupt_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, base(0), ts(0)), (3L, base(1), ts(0)))
      q.processAllAvailable()
      in.addData((2L, base(0), ts(1)), (4L, base(1), ts(1)),
        (9001L, base(0), ts(1)), (9002L, base(0), ts(1)),
        (9003L, base(0), ts(1)), (9004L, base(0), ts(1)))
      q.processAllAvailable() // would throw the poison pill without the guard
      assert(q.isActive)
      val streamed = spark.table("embv_corrupt_out").distinct()
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed.map(p => (p._1, p._2)) === Set((1L, 2L), (3L, 4L)))
    } finally q.stop()
  }

  test("stateless text-analysis ops run unchanged on a stream, batch-equal") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().take(50)
    val in = MemoryStream[(Long, String, String, String, Long)]
    val streamDocs = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    // zero-shuffle single-scan projections (PlanShapeSpec) are directly
    // streamable — same operator code, no adaptation layer
    val q = graft.ops.TextAnalysis.qualityScore(streamDocs)
      .writeStream.format("memory").queryName("ta_out")
      .outputMode(OutputMode.Append).start()
    val q2 = graft.ops.TextAnalysis.langId(streamDocs)
      .writeStream.format("memory").queryName("ta_lang_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows)
      q.processAllAvailable(); q2.processAllAvailable()
      val batchDf = rows.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      val streamedQ = spark.table("ta_out").collect().map(_.toSeq).toSet
      val batchQ = graft.ops.TextAnalysis.qualityScore(batchDf)
        .collect().map(_.toSeq).toSet
      assert(streamedQ === batchQ && streamedQ.size === 50)
      val streamedL = spark.table("ta_lang_out").collect().map(_.toSeq).toSet
      val batchL = graft.ops.TextAnalysis.langId(batchDf)
        .collect().map(_.toSeq).toSet
      assert(streamedL === batchL)
    } finally { q.stop(); q2.stop() }
  }

  test("sample-on-ingest: stratified sampling runs unchanged on a stream, batch-equal") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().take(60)
    val fractions = rows.map(_._4).distinct.toSeq
      .map(s => (s, 0.5)).toDF("source", "fraction")
    val in = MemoryStream[(Long, String, String, String, Long)]
    val streamDocs = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    // the hash-u keep decision is a pure per-row projection and the
    // fraction table is a stream-static broadcast join, so the SAME
    // operator samples an ingest stream — and determinism means the
    // streamed sample IS the batch sample (the lineage property holds
    // across execution modes)
    val q = graft.ops.Sampling.stratifiedSample(streamDocs, fractions)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(rows.take(30)); q.processAllAvailable()
      in.addData(rows.drop(30)); q.processAllAvailable()
      val streamed = spark.table("sample_out").collect().map(_.toSeq).toSet
      val batch = graft.ops.Sampling.stratifiedSample(
        rows.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), fractions)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup keeps one row per text hash") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Turn]
    val q = dedupedDocs(in.toDS().toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Seq(turn("a", 0, "same text", 0), turn("b", 0, "same text", 1),
        turn("c", 0, "other text", 1)))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }
}
