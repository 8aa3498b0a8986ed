package graft

import org.apache.spark.sql.functions._
import graft.synth.Synth
import graft.pipeline.{Canonicalize, Tokenize, Blocking, GreedyClustering}
import graft.ops.{TextDedup, Curation}

/** End-to-end run of the valve-on production preset. On healthy (non-
  * adversarial) data every valve must be a semantic no-op: the preset's
  * results equal the exact-configuration results bit-for-bit, while the
  * knobs (df cap, bucket caps, component bound) stay armed for the
  * pathological shapes they exist to bound.
  */
class PresetsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("preset ER clustering end-to-end equals the exact configuration on healthy data") {
    val transcripts = Synth.transcripts(spark, sfDir)
    val mentions = Canonicalize.mentions(transcripts).localCheckpoint()
    val preset = Presets.clusterMentions(mentions)
      .select(col("mention_id"), col("cluster_id"))
    val tokens = Tokenize.tokens(mentions)
    val exact = GreedyClustering.assignments(mentions, tokens,
      Blocking.candidates(tokens))
      .select(col("mention_id"), col("cluster_id"))
    assert(preset.exceptAll(exact).isEmpty && exact.exceptAll(preset).isEmpty,
      "valve-on preset must not change clustering on healthy data")
    assert(preset.count() > 0)
  }

  test("preset curation verdict equals the exact keep-set on healthy data") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    val preset = Presets.curateDocuments(docs, benchmark)
    val exact = Curation.keepSet(docs, benchmark)
    assert(preset.exceptAll(exact).isEmpty && exact.exceptAll(preset).isEmpty)
    assert(preset.count() === docs.count(), "verdict must be total over documents")
  }

  test("preset dataset assembly: total over survivors, split-atomic, train packed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    val weights = docs.select(col("source")).distinct()
      .withColumn("weight", lit(1.0))
    val out = Presets.assembleDataset(docs, benchmark, weights, budget = 256)
      .localCheckpoint()
    val kept = Presets.curateDocuments(docs, benchmark).filter(col("keep"))
    // exactly one row per curation survivor
    assert(out.count() === kept.count())
    assert(out.select(col("doc_id")).distinct().count() === kept.count())
    // packed rows are exactly the non-unused train split, with valid coords
    val train = out.filter(col("split") === "train")
    assert(train.filter(col("pack_id").isNull).count() === 0)
    assert(train.filter(col("pack_offset") < 0 || col("pack_offset") >= 256)
      .count() === 0)
    assert(out.filter(col("split").isin("val", "test", "unused"))
      .filter(col("pack_id").isNotNull).count() === 0)
    // packs are dense: ids 0..max with no gaps (every chunk has a starter)
    val packIds = train.select(col("pack_id")).distinct()
      .orderBy(col("pack_id")).collect().map(_.getLong(0))
    assert(packIds.toSeq === (0L to packIds.max).toSeq)
  }

  test("preset ANN returns a full trained top-k") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val topk = Presets.annTopK(emb, k = 3).localCheckpoint()
    val n = emb.count()
    assert(topk.select(col("vec_id")).distinct().count() === n)
    assert(topk.filter(col("rank") > 3).count() === 0)
    assert(topk.groupBy(col("vec_id")).count()
      .filter(col("count") > 3).count() === 0)
  }

  test("preset blocking valve fires on an injected hub-token corpus (and only there)") {
    // names made ENTIRELY of hub tokens — the one shape whose prefix
    // cannot dodge a hub (see Bench's valve section); df of each hub
    // token exceeds maxBlockDf only in the adversarial corpus
    val spark0 = spark
    import spark0.implicits._
    val hubCfg = Blocking.Config(maxBlockDf = Some(5))
    val rows = (0 until 12).combinations(2).map { case Seq(a, b) =>
      (a * 100L + b, s"hub$a hub$b")
    }.toSeq
    val toks = rows.toDF("mention_id", "name")
      .withColumn("weight", lit(1L))
      .select(col("mention_id"), col("name"), col("weight"),
        posexplode(split(col("name"), " ")).as(Seq("pos", "token")))
      .select(col("mention_id"), col("name"), col("weight"),
        col("pos").cast("int").as("pos"), col("token"),
        lit(false).as("is_abbr"), lit(false).as("is_before_dot"),
        when(col("pos") === 1, "LASTNAME").otherwise("FIRSTNAME").as("name_part"))
    val exact = Blocking.scoredPairs(toks).count()
    val capped = Blocking.scoredPairs(toks, hubCfg).count()
    assert(capped < exact, "df cap must prune hub-token pair generation")
    assert(capped === 0L, "every token is a hub here; all pairs pruned")
  }
}
