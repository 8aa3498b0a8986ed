package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointStore

/** Stage 1 — canonicalization: windowed turn aggregation of transcripts into
  * entity-mention documents, then the mention (REFERENCE-vertex) table.
  *
  * Reference analogue: the externally-prepared vertices.tsv REF rows
  * (dao/G.java:129-156, dao/vertex/RefV.java:13); `weight` = corpus
  * occurrence count of the exact surface (dao/vertex/V.java:63).
  *
  * Scale notes: every transform groups by `conv_id` or `name`, or windows
  * by `mention_id` — a single hash-partitioned shuffle each, no window over
  * an unpartitioned frame: the `mention_id` is a parallel hash of the
  * surface, so no stage in this file has a single-task bottleneck at any
  * scale.
  */
object Canonicalize {

  /** Regex extracting planted entity surfaces between [[ ]] markers. */
  val mentionRegex = "\\[\\[([a-z. ]+)\\]\\]"

  /** Mention documents: one per conversation window (window = whole
    * conversation here; `windowTurns` caps turns per window when set).
    * Turn order is stable on turn_idx; per-turn text equality is preserved
    * verbatim inside the doc (the per-row invariant of the graft). */
  def mentionDocs(transcripts: DataFrame, windowTurns: Int = Int.MaxValue): DataFrame = {
    val winStart = (col("turn_idx") / windowTurns).cast("int") * windowTurns
    transcripts
      .withColumn("window_start_turn", winStart)
      .groupBy(col("conv_id"), col("window_start_turn"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            t => t.getField("text")),
          "\n").as("doc"),
        count(lit(1)).cast("int").as("n_turns"))
  }

  /** One row per planted mention occurrence: (conv_id, turn_idx, name). */
  def mentionEvents(transcripts: DataFrame): DataFrame =
    transcripts
      .select(col("conv_id"), col("turn_idx"),
        explode(expr(s"regexp_extract_all(text, '${mentionRegex.replace("\\", "\\\\")}', 1)")).as("name"))

  /** Default stoplist for the MARKER-FREE extractor: English function words
    * plus common assistant/CRM verb vocabulary. Swap per corpus — the rule
    * is corpus-agnostic, the vocabulary is not. */
  val defaultStoplist: Seq[String] = Seq(
    "a", "an", "and", "are", "at", "be", "been", "being", "best", "but",
    "can", "could", "did", "do", "does", "done", "for", "found", "from",
    "had", "has", "have", "he", "her", "hi", "him", "his", "i", "in", "is",
    "it", "its", "match", "matched", "matching", "me", "my", "no", "now",
    "of", "ok", "okay", "on", "or", "our", "please", "pull", "pulled",
    "query", "record", "records", "row", "rows", "save", "saved", "search",
    "searched", "searching", "she", "so", "that", "the", "their", "them",
    "these", "they", "this", "those", "to", "was", "we", "were", "will",
    "with", "would", "yes", "you", "your", "directory")

  /** MARKER-FREE mention extraction — the stage the reference never needed
    * (its HIN arrives pre-built) but any user pointing the pipeline at raw
    * unmarked transcripts does. Rule: a mention is a maximal run of ≥
    * `minTokens` consecutive name-shaped tokens (`^[a-z]+[.]?$` — bare word
    * or abbreviated initial) whose unsuffixed form is not in `stoplist`;
    * runs are per turn, so punctuation and function words delimit them.
    * `[[`/`]]` markers, if present, are stripped first, making the
    * extractor a drop-in replacement for [[mentionEvents]]: on the
    * contract corpus the two are equal row-for-row (asserted in
    * PipelineSpec and oracled as q_mention_events_auto).
    *
    * Scale shape: one window per (conv_id, turn_idx) — groups bounded by
    * turn length (tiny), so the gaps-and-islands WindowExec here cannot
    * buffer a hot group; everything else is a single hash shuffle. */
  def mentionEventsAuto(transcripts: DataFrame,
      stoplist: Seq[String] = defaultStoplist,
      minTokens: Int = 2): DataFrame = {
    val stopArr = array(stoplist.map(lit): _*)
    val w = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))
    transcripts
      .select(col("conv_id"), col("turn_idx"),
        posexplode(split(regexp_replace(col("text"), "[\\[\\]]", ""), " "))
          .as(Seq("pos", "word")))
      .withColumn("bad",
        // single letters are initials ("j. smith", "j a smith") — always
        // name-shaped, never stoplisted (so the article "a" can't break
        // an "a. lee smith" run)
        when(col("word").rlike("^[a-z]+[.]?$") &&
          (length(regexp_replace(col("word"), "[.]$", "")) === 1 ||
            !array_contains(stopArr, regexp_replace(col("word"), "[.]$", ""))),
          0).otherwise(1))
      .withColumn("grp", sum(col("bad")).over(w))
      .filter(col("bad") === 0)
      .groupBy(col("conv_id"), col("turn_idx"), col("grp"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            t => t.getField("word")), " ").as("name"),
        count(lit(1)).as("n"))
      .filter(col("n") >= minTokens)
      .select(col("conv_id"), col("turn_idx"), col("name"))
  }

  /** Salt rounds [[mentions]] tries before it gives up on a collision. */
  private val MaxRepairRounds = 8

  /** The mention (reference) table: distinct surface + corpus weight + a
    * deterministic id.
    *
    * The id is the top `idHexChars`*4 bits of md5(name) (default 60) —
    * embarrassingly parallel (no global sort / single-task row_number
    * stage, which was the driver-adjacent bottleneck at billions of
    * distinct surfaces) and reproducible bit-for-bit in the DuckDB oracle.
    * Collision odds at n distinct names are ~n^2/2^61 (≈0.25 expected
    * collisions at n=10^9), so instead of failing, colliding names are
    * AUTO-REPAIRED: per colliding id, the lexicographically-first name
    * keeps it and the rest are re-hashed with an incremented salt, repeated
    * until unique (deterministic — independent of row order). Each round
    * is one window over `mention_id` (group size and min name per id),
    * materialized once with the largest group size observed on that same
    * action, so the happy path computes the chain once and runs no
    * separate check job. `idHexChars` is exposed so tests can force
    * collisions at tiny widths; the oracle stays valid at the default
    * width because repair never fires there at sandbox scale. */
  def mentions(transcripts: DataFrame, idHexChars: Int = 15): DataFrame = {
    def hashed(salt: Column) =
      conv(substring(md5(when(salt === 0, col("name"))
        .otherwise(concat(col("name"), lit("#"), salt))), 1, idHexChars), 16, 10)
        .cast("long")
    val byId = Window.partitionBy(col("mention_id"))
    var salted = mentionEvents(transcripts)
      .groupBy(col("name"))
      .agg(count(lit(1)).as("weight"))
      .withColumn("salt", lit(0))
    var round = 0
    while (round <= MaxRepairRounds) {
      val (cur, seen) = CheckpointStore.materialize(
        salted.withColumn("mention_id", hashed(col("salt")))
          .withColumn("__n", count(lit(1)).over(byId))
          .withColumn("__keep", min(col("name")).over(byId)),
        None, coalesce(max(col("__n")), lit(0L)).as("maxGroup"))
      if (seen("maxGroup").asInstanceOf[Long] <= 1L)
        return cur.select(col("name"), col("weight"), col("mention_id"))
      salted = cur.select(col("name"), col("weight"),
        when(col("__n") > 1 && col("name") =!= col("__keep"), col("salt") + 1)
          .otherwise(col("salt")).as("salt"))
      round += 1
    }
    sys.error(s"mention_id collisions unresolved after $MaxRepairRounds salt rounds")
  }

  /** Raises if the hash id collides (distinct names must map 1:1 to ids).
    * [[mentions]] already makes this check while it materializes its
    * rows, so `Pipeline.run` does not call it again. */
  def assertUniqueIds(mentions: DataFrame): Unit = {
    val dupes = mentions.groupBy(col("mention_id"))
      .count().filter(col("count") > 1).count()
    if (dupes > 0)
      sys.error(s"mention_id hash collision on $dupes ids — widen the id digest")
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTEs: mention_docs, mention_events, mentions. Append after
    * Synth.transcriptsCte. */
  val ctes: String =
    """mention_docs AS (
      |  SELECT conv_id, 0 AS window_start_turn,
      |         string_agg(text, chr(10) ORDER BY turn_idx) AS doc,
      |         count(*)::INT AS n_turns
      |  FROM transcripts GROUP BY conv_id
      |),
      |mention_events AS (
      |  SELECT conv_id, turn_idx,
      |         unnest(regexp_extract_all(text, '\[\[([a-z. ]+)\]\]', 1)) AS name
      |  FROM transcripts
      |),
      |mentions AS (
      |  SELECT name, count(*) AS weight,
      |         ('0x' || substr(md5(name), 1, 15))::BIGINT AS mention_id
      |  FROM mention_events GROUP BY name
      |)""".stripMargin

  /** DuckDB CTE mirroring [[mentionEventsAuto]] (the marker-free rule) —
    * same gaps-and-islands formulation: flag tokens, group runs by the
    * running bad-token count, reassemble ≥`minTokens`-token runs. Append
    * after Synth.transcriptsCte. Takes the SAME parameters as
    * [[mentionEventsAuto]] so a non-default stoplist/minTokens call cannot
    * silently desync the implementation from its oracle. */
  def autoCtes(stoplist: Seq[String] = defaultStoplist,
      minTokens: Int = 2): String = {
    val stop = stoplist.map(w => s"'$w'").mkString(", ")
    s"""auto_words AS (
       |  SELECT conv_id, turn_idx,
       |         unnest(generate_series(1, len(w))) AS pos,
       |         unnest(w) AS word
       |  FROM (SELECT conv_id, turn_idx,
       |          string_split(regexp_replace(text, '[\\[\\]]', '', 'g'), ' ') AS w
       |        FROM transcripts)
       |),
       |auto_grp AS (
       |  SELECT *, sum(bad) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS grp
       |  FROM (
       |    SELECT conv_id, turn_idx, pos, word,
       |           CASE WHEN regexp_full_match(word, '[a-z]+[.]?')
       |                 AND (length(regexp_replace(word, '[.]$$', '')) = 1
       |                      OR NOT regexp_replace(word, '[.]$$', '') IN ($stop))
       |                THEN 0 ELSE 1 END AS bad
       |    FROM auto_words)
       |),
       |mention_events_auto AS (
       |  SELECT conv_id, turn_idx, string_agg(word, ' ' ORDER BY pos) AS name
       |  FROM auto_grp WHERE bad = 0
       |  GROUP BY conv_id, turn_idx, grp
       |  HAVING count(*) >= $minTokens
       |)""".stripMargin
  }
}
