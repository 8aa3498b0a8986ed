package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-6 optimization parity: every operator whose PHYSICAL shape was
  * rewritten for performance is pinned value-identical to the round-5
  * formulation it replaced (the DuckDB oracles re-prove the same
  * equivalences every Verify run; these specs keep the proof local, on
  * adversarial mini-corpora with ties and multi-bucket collisions).
  */
class RewriteParitySpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))

  /** The round-5 knnBrute formulation (crossJoin + window rank) — the
    * reference the broadcast top-k fold must equal row-for-row. */
  private def knnBruteCrossJoin(embeddings: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_norm_f(embedding)"))
    val a = e.select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    a.crossJoin(b)
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(expr("graft_dot_f(ea, eb)") / (col("na") * col("nb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  test("knnBrute broadcast fold == crossJoin+window on the sf0.001 corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val neu = Similarity.knnBrute(emb)
      .as[(Long, Long, Double, Int)].collect().toSet
    val ref = knnBruteCrossJoin(emb, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neu === ref)
  }

  test("knnBrute broadcast fold: exact tie order (cosine desc, neighbor asc)") {
    // duplicated vectors force exact cosine ties at every rank — the
    // neighbor_id ASC tiebreak must match row_number()'s
    val base = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)), // dup of 1
      (3L, Array(1.0f, 0.0f, 0.0f)), // dup of 1
      (4L, Array(0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.0f)), // dup of 4
      (6L, Array(0.6f, 0.8f, 0.0f)))
    val emb = base.toDF("vec_id", "embedding")
    val neu = Similarity.knnBrute(emb, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val ref = knnBruteCrossJoin(emb, 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neu === ref)
    // and with an array<double> corpus (the quantize-roundtrip input type)
    val embD = base.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("vec_id", "embedding")
    val neuD = Similarity.knnBrute(embD, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val refD = knnBruteCrossJoin(embD, 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neuD === refD)
  }

  /** The round-5 ivfTopKFrom formulation: cell join over the full
    * candidate-pair row set + embedding joins + window rank. */
  private def ivfTopKJoinWindow(embeddings: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val p = probes.localCheckpoint()
    val assign = p.filter(col("probe_rank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_norm_f(embedding)"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    p.select(col("vec_id"), col("cell"))
      .join(assign, "cell")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .join(e.select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na")), "vec_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
        col("nrm").as("nb")), "neighbor_id")
      .withColumn("cosine",
        round(expr("graft_dot_f(ea, eb)") / (col("na") * col("nb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  test("ivfTopK per-cell cogroup fold == cell-join + window on sf0.001, ties, and double corpora") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val neu = Similarity.ivfTopK(emb, k = 5, nlist = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    val ref = ivfTopKJoinWindow(emb, Similarity.ivfProbes(emb, nlist = 8), 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neu === ref)
    // duplicate vectors -> exact cosine ties; double element type
    val tie = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(1.0, 0.0, 0.0)),
      (3L, Array(1.0, 0.0, 0.0)), (4L, Array(0.0, 1.0, 0.0)),
      (5L, Array(0.0, 1.0, 0.0)), (6L, Array(0.6, 0.8, 0.0)),
      (7L, Array(0.0, 0.0, 1.0)), (8L, Array(0.1, 0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val neuT = Similarity.ivfTopK(tie, k = 3, nlist = 3, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val refT = ivfTopKJoinWindow(tie,
      Similarity.ivfProbes(tie, nlist = 3, nprobe = 2), 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neuT === refT)
  }

  /** The pre-fold annTopK ranking: score each unordered candidate pair
    * once, mirror, then rank through a row_number() window — the
    * formulation the bounded top-k insertion fold replaced. */
  private def annTopKWindow(embeddings: DataFrame, k: Int,
      cand: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_norm_f(embedding)"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("nrm").as("na")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "b")
      .withColumn("cosine",
        round(expr("graft_dot_f(ea, eb)") / (col("na") * col("nb")), 6))
      .select(explode(array(
        struct(col("a").as("vec_id"), col("b").as("neighbor_id"), col("cosine")),
        struct(col("b").as("vec_id"), col("a").as("neighbor_id"), col("cosine"))))
        .as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.neighbor_id").as("neighbor_id"),
        col("p.cosine").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  test("annTopK bounded fold == mirrored window on the sf0.001 corpus and on ties") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cand = Similarity.annCandidates(emb).localCheckpoint()
    val neu = Similarity.annTopK(emb, candDf = Some(cand))
      .as[(Long, Long, Double, Int)].collect().toSet
    val ref = annTopKWindow(emb, 5, cand)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neu === ref)
    // duplicated vectors force exact cosine ties at every rank — the
    // neighbor_id ASC tiebreak must match row_number()'s
    val tie = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)), (4L, Array(0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.0f)), (6L, Array(0.6f, 0.8f, 0.0f)))
      .toDF("vec_id", "embedding")
    val candT = Similarity.annCandidates(tie, tables = 4, planes = 2)
      .localCheckpoint()
    val neuT = Similarity.annTopK(tie, k = 3, candDf = Some(candT))
      .as[(Long, Long, Double, Int)].collect().toSet
    val refT = annTopKWindow(tie, 3, candT)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(neuT === refT)
  }

  /** Ten seeded 3-float vectors; vec 5 holds a NaN element, so its norm
    * and every cosine it takes part in are NaN. Every top-k path drops it
    * as a corrupt row, as it drops a zero-norm one. */
  private def nanCorpus: DataFrame = {
    val rnd = new scala.util.Random(1)
    (1L to 10L).map { i =>
      val v = Array.fill(3)(rnd.nextFloat())
      if (i == 5L) v(1) = Float.NaN
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  /** Rows with the cosine as its bit pattern: tuple equality treats
    * NaN != NaN, so a plain set of NaN-cosine rows can never match. */
  private def bits(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.as[(Long, Long, Double, Int)].collect().map { case (v, n, c, r) =>
      (v, n, java.lang.Double.doubleToLongBits(c), r) }.toSet

  /** The corrupt-row rule of every top-k path: a norm that is not > 0
    * (Spark orders NaN above every double, hence the isnan). */
  private def normed(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    emb.filter(expr("graft_norm_f(embedding) > 0 AND NOT isnan(graft_norm_f(embedding))"))
  }

  test("ivfTopK drops a NaN-norm row as query and as neighbor") {
    val emb = nanCorpus
    val neu = bits(Similarity.ivfTopK(emb, k = 2, nlist = 2, nprobe = 2))
    val ref = bits(ivfTopKJoinWindow(normed(emb),
      Similarity.ivfProbes(emb, nlist = 2, nprobe = 2), 2))
    assert(neu.nonEmpty && !neu.exists(r => r._1 == 5L || r._2 == 5L))
    assert(neu === ref)
  }

  test("annTopK drops a NaN-norm row as query and as neighbor") {
    val emb = nanCorpus
    val cand = Similarity.annCandidates(emb, tables = 4, planes = 2)
      .localCheckpoint()
    val neu = bits(Similarity.annTopK(emb, k = 2, candDf = Some(cand)))
    val ref = bits(annTopKWindow(normed(emb), 2, cand))
    assert(neu.nonEmpty && !neu.exists(r => r._1 == 5L || r._2 == 5L))
    assert(neu === ref)
  }

  test("knnBrute drops a NaN-norm row as query and as neighbor") {
    val emb = nanCorpus
    val neu = bits(Similarity.knnBrute(emb, k = 2))
    assert(!neu.exists(r => r._1 == 5L || r._2 == 5L))
    // every other vector still gets k neighbors, ranked as the crossJoin
    // window ranks them over the corpus without the NaN row
    assert(neu.groupBy(_._1).map { case (v, rs) => v -> rs.map(_._4) } ===
      (1L to 10L).filter(_ != 5L).map(_ -> Set(1, 2)).toMap)
    assert(neu === bits(knnBruteCrossJoin(emb.filter(col("vec_id") =!= 5L), 2)))
  }

  test("embedNearDups drops a NaN-norm row before scoring its pairs") {
    val emb = nanCorpus
    val pairs = Similarity.embedNearDups(emb, minCosine = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty && !pairs.exists(r => r._1 == 5L || r._2 == 5L))
    // the other pairs are those scored over the same candidates without vec 5
    val cand = Similarity.annCandidates(emb).localCheckpoint()
    assert(pairs.toSet === Similarity.embedNearDups(normed(emb), minCosine = 0.3,
      candDf = Some(cand)).as[(Long, Long, Double)].collect().toSet)
  }

  /** The round-5 lshPairs formulation: bucket self-join + distinct. */
  private def lshPairsDistinct(d: DataFrame, maxBucket: Option[Int]): Set[(Long, Long)] = {
    val all = TextDedup.bandBuckets(d)
    val buckets = Valves.capGroups(all, Seq("band", "bucket_key"), maxBucket)
    buckets.as("x").join(buckets.as("y"), Seq("band", "bucket_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct().as[(Long, Long)].collect().toSet
  }

  test("lshPairs in-row first-band dedup == distinct formulation, no duplicate rows") {
    // identical docs share ALL 4 bands (the maximal multi-bucket collision);
    // near-identical docs share a subset; cap drops the size-3 bucket
    val d = docs(
      (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"), (3L, "aa bb cc dd ee"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "the quick brown fox jumps over the lazy dog tonight"),
      (6L, "completely different text with no overlap at all whatsoever"))
    for (cap <- Seq(None, Some(2))) {
      val rows = TextDedup.lshPairs(d, maxBucket = cap)
        .as[(Long, Long)].collect().toSeq
      assert(rows.size === rows.toSet.size,
        s"cap=$cap: pair rows must be emitted exactly once")
      assert(rows.toSet === lshPairsDistinct(d, cap), s"cap=$cap")
    }
  }

  test("simhashNearDups in-row first-band dedup == distinct formulation, no duplicate rows") {
    val d = docs(
      (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"), // identical: all bands match
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "completely different text with no overlap at all whatsoever"))
    val sh = TextDedup.simhash(d)
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"(simhash >> ${8 * i}) & 255")): _*)).as(Seq("band", "chunk")))
    val ref = bands.as("x").join(bands.as("y"), Seq("band", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("cast(bit_count(x.simhash ^ y.simhash) as int)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct().as[(Long, Long, Int)].collect().toSet
    val rows = TextDedup.simhashNearDups(d, simhashDf = Some(sh))
      .as[(Long, Long, Int)].collect().toSeq
    assert(rows.size === rows.toSet.size, "pair rows must be emitted exactly once")
    assert(rows.toSet === ref)
  }
}
