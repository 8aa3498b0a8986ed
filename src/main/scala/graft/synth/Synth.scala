package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript corpus (the graft's input table).
  *
  * Shape follows BASELINE.json input_hint exactly:
  * (conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp).
  *
  * Derivation is pure integer arithmetic over `customer.c_custkey` from the
  * driver-provided testdata at the chosen scale factor, so the corpus size
  * scales with sf and the SAME corpus is reproducible inside DuckDB by
  * [[transcriptsCte]] — giving every downstream pipeline stage a real SQL
  * oracle.
  *
  * Each entity (one per customer key) gets 2–4 mention conversations. Each
  * conversation has 4 turns; the entity's name surface is planted in turns
  * 0, 1, 3 between `[[` `]]` markers (canonicalization extracts them, see
  * graft.pipeline.Canonicalize). Variation classes mirror the reference's
  * name phenomena (abbreviation, nickname, phonetic misspelling, reorder,
  * suffix — /root/reference/matching/.../MatchResult.java:157-214).
  */
object Synth {
  import NamePools._

  /** Number of variation slots for non-canonical mentions. Slots are
    * weighted: common phenomena (token drop, initials) dominate; hard
    * classes (nickname, phonetic misspelling, reorder) get 1/16 each,
    * mirroring their rarity in the reference corpora (arXiv upper bound
    * 0.9939 implies few unblockable variants). */
  private val nVariations = 16

  /** Spark-side generator. Reads only customer.c_custkey from sfDir. */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fArr = array(first.map(lit): _*)
    val nArr = array(nickOfFirst.map(lit): _*)
    val mArr = array(middle.map(lit): _*)
    val lArr = array(last.map(lit): _*)
    val pArr = array(misspellOfLast.map(lit): _*)
    val sArr = array(lastSuffix.map(lit): _*)
    val s2Arr = array(lastSuffix2.map(lit): _*)

    spark.read.parquet(s"$sfDir/customer.parquet")
      .select($"c_custkey".as("k"))
      // Knuth multiplicative hash decorrelates the pool indices so entity
      // full-name collisions are rare random namesakes (~n^2/96000), not a
      // short arithmetic cycle.
      .withColumn("h", ($"k" * lit(2654435761L)) % lit(2147483647L))
      .withColumn("f", element_at(fArr, ($"h" % 40).cast("int") + 1))
      .withColumn("nick", element_at(nArr, ($"h" % 40).cast("int") + 1))
      .withColumn("mid", element_at(mArr, expr("cast(h div 40 as int) % 20") + 1))
      .withColumn("suf",
        concat(element_at(sArr, expr("cast(h div 48000 as int) % 10") + 1),
          element_at(s2Arr, expr("cast(h div 480000 as int) % 10") + 1)))
      .withColumn("l", concat(element_at(lArr, expr("cast(h div 800 as int) % 60") + 1), $"suf"))
      .withColumn("missp", concat(element_at(pArr, expr("cast(h div 800 as int) % 60") + 1), $"suf"))
      .withColumn("m", explode(sequence(lit(0), (lit(1) + $"k" % 3).cast("int"))))
      .withColumn("v", when($"m" === 0, lit(-1L)).otherwise(($"k" + $"m" * 3) % nVariations))
      .withColumn("surface",
        when($"v".isin(-1, 8, 9), concat_ws(" ", $"f", $"mid", $"l"))
          .when($"v".isin(0, 1), concat_ws(" ", $"f", $"l"))
          .when($"v".isin(2, 3), concat(substring($"f", 1, 1), lit(". "), $"mid", lit(" "), $"l"))
          .when($"v".isin(4, 5), concat($"f", lit(" "), substring($"mid", 1, 1), lit(". "), $"l"))
          .when($"v".isin(6, 7), concat(substring($"f", 1, 1), lit(" "), substring($"mid", 1, 1), lit(" "), $"l"))
          .when($"v".isin(10, 11), concat_ws(" ", $"f", $"mid", $"l", lit("jr")))
          .when($"v" === 12, concat_ws(" ", $"nick", $"l"))
          .when($"v" === 13, concat_ws(" ", $"f", $"missp"))
          .when($"v" === 14, concat_ws(" ", $"l", $"f"))
          .otherwise(concat(substring($"f", 1, 1), lit(". "), $"l")))
      .withColumn("conv_seq", $"k" * 4 + $"m")
      .withColumn("conv_id", concat(lit("c"), lpad($"conv_seq".cast("string"), 8, "0")))
      .withColumn("turn_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("role",
        when($"turn_idx" === 0, "user")
          .when($"turn_idx" === 2, "tool")
          .otherwise("assistant"))
      .withColumn("text",
        when($"turn_idx" === 0,
          concat(lit("hi, can you pull the record for [["), $"surface", lit("]] from the directory?")))
          .when($"turn_idx" === 1,
            concat(lit("searching the directory for [["), $"surface", lit("]] now.")))
          .when($"turn_idx" === 2,
            concat(lit("found "), (lit(1) + ($"k" + $"m") % 9).cast("string"), lit(" rows matching the query.")))
          .otherwise(
            concat(lit("done. the best match for [["), $"surface", lit("]] has been saved."))))
      .withColumn("tool", when($"turn_idx" === 2, "search").otherwise(lit(null).cast("string")))
      .withColumn("ts", expr(
        "timestampadd(MINUTE, cast(conv_seq * 4 + turn_idx as int), timestamp'2025-01-01 00:00:00')"))
      .select($"conv_id", $"turn_idx".cast("int").as("turn_idx"), $"role", $"text", $"tool", $"ts")
  }

  /** Gold labels (generator-side truth, analogue of RESOLVED_ID vertices /
    * RID_REF edge weights — dao/vertex/V.java:20, dao/edge/E.java:11).
    * One row per (surface name, entity): cnt = planted occurrences.
    * Derived from a [[transcripts]] frame the caller already holds (a
    * pipeline passes its transcripts checkpoint) with its own regex over
    * turns 0, 1 and 3, not Canonicalize's extractor, so the labels stay
    * independent of the code they score. */
  def goldMentions(transcripts: DataFrame): DataFrame = {
    import transcripts.sparkSession.implicits._
    transcripts.filter($"turn_idx".isin(0, 1, 3))
      .select(regexp_extract($"text", "\\[\\[([a-z. ]+)\\]\\]", 1).as("name"),
        concat(lit("e"), expr("cast(substring(conv_id, 2, 8) as bigint) div 4")).as("entity_id"))
      .groupBy($"name", $"entity_id")
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[goldMentions]] of the corpus synthesized from `sfDir`. */
  def goldMentions(spark: SparkSession, sfDir: String): DataFrame =
    goldMentions(transcripts(spark, sfDir))

  /** Labeled pairs for paired evaluation (E-2 input; the reference's
    * gold-pairs TSV, evaluation/paired/FMeasure.java:107-111), from the
    * [[goldMentions]] and the mentions table (name, mention_id) of the
    * same corpus. Positives: name pairs sharing an entity. Negatives: name
    * pairs sharing their final token but no entity (hard negatives inside
    * the natural block). Returns (id1, id2, label) over mention ids. */
  def goldPairs(gold: DataFrame, mentions: DataFrame): DataFrame = {
    import gold.sparkSession.implicits._
    val ids = mentions.select($"name", $"mention_id")
    val pos = gold.as("a").join(gold.as("b"), "entity_id")
      .filter($"a.name" < $"b.name")
      .select($"a.name".as("name1"), $"b.name".as("name2")).distinct()
    val lastw = gold.select($"name").distinct()
      .withColumn("lw", element_at(split($"name", " "), -1))
    val sameLw = lastw.as("a").join(lastw.as("b"), "lw")
      .filter($"a.name" < $"b.name")
      .select($"a.name".as("name1"), $"b.name".as("name2"))
    val neg = sameLw.join(pos, Seq("name1", "name2"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
      .join(ids.withColumnRenamed("name", "name1").withColumnRenamed("mention_id", "id1"), "name1")
      .join(ids.withColumnRenamed("name", "name2").withColumnRenamed("mention_id", "id2"), "name2")
      .select($"id1", $"id2", $"label")
  }

  /** DuckDB CTE `gold_pairs`; append after Canonicalize.ctes +
    * [[goldMentionsCte]]. */
  val goldPairsCte: String =
    """gp_pos AS (
      |  SELECT DISTINCT a.name AS name1, b.name AS name2
      |  FROM gold_mentions a JOIN gold_mentions b USING (entity_id)
      |  WHERE a.name < b.name
      |),
      |gp_lastw AS (
      |  SELECT DISTINCT name, string_split(name, ' ')[-1] AS lw FROM gold_mentions
      |),
      |gp_neg AS (
      |  SELECT a.name AS name1, b.name AS name2
      |  FROM gp_lastw a JOIN gp_lastw b USING (lw)
      |  WHERE a.name < b.name
      |    AND NOT EXISTS (SELECT 1 FROM gp_pos p
      |                    WHERE p.name1 = a.name AND p.name2 = b.name)
      |),
      |gold_pairs AS (
      |  SELECT m1.mention_id AS id1, m2.mention_id AS id2, p.label
      |  FROM (SELECT name1, name2, 1 AS label FROM gp_pos
      |        UNION ALL SELECT name1, name2, 0 FROM gp_neg) p
      |  JOIN mentions m1 ON p.name1 = m1.name
      |  JOIN mentions m2 ON p.name2 = m2.name
      |)""".stripMargin

  // ---------------------------------------------------------------------
  // DuckDB oracle mirror
  // ---------------------------------------------------------------------

  /** DuckDB CTE body producing EXACTLY the rows of [[transcripts]] (table
    * name `transcripts`). Relies on the driver registering `customer` as a
    * view over the same sfDir parquet. */
  val transcriptsCte: String = {
    val fL = sqlList(first); val nL = sqlList(nickOfFirst)
    val mL = sqlList(middle); val lL = sqlList(last); val pL = sqlList(misspellOfLast)
    val sL = sqlList(lastSuffix)
    val s2L = sqlList(lastSuffix2)
    s"""ent AS (
       |  SELECT c_custkey AS k,
       |         ($fL)[(h % 40)::INT + 1] AS f,
       |         ($nL)[(h % 40)::INT + 1] AS nick,
       |         ($mL)[((h // 40) % 20)::INT + 1] AS mid,
       |         ($lL)[((h // 800) % 60)::INT + 1] || ($sL)[((h // 48000) % 10)::INT + 1]
       |           || ($s2L)[((h // 480000) % 10)::INT + 1] AS l,
       |         ($pL)[((h // 800) % 60)::INT + 1] || ($sL)[((h // 48000) % 10)::INT + 1]
       |           || ($s2L)[((h // 480000) % 10)::INT + 1] AS missp
       |  FROM (SELECT c_custkey, (c_custkey * 2654435761) % 2147483647 AS h
       |        FROM customer)
       |),
       |mention_rows AS (
       |  SELECT ent.*, gs.m,
       |         CASE WHEN gs.m = 0 THEN -1 ELSE (k + 3 * gs.m) % $nVariations END AS v
       |  FROM ent, LATERAL (SELECT unnest(generate_series(0, 1 + (ent.k % 3)::INT)) AS m) gs
       |),
       |surfaces AS (
       |  SELECT *,
       |         CASE
       |           WHEN v IN (-1, 8, 9) THEN f || ' ' || mid || ' ' || l
       |           WHEN v IN (0, 1) THEN f || ' ' || l
       |           WHEN v IN (2, 3) THEN substr(f, 1, 1) || '. ' || mid || ' ' || l
       |           WHEN v IN (4, 5) THEN f || ' ' || substr(mid, 1, 1) || '. ' || l
       |           WHEN v IN (6, 7) THEN substr(f, 1, 1) || ' ' || substr(mid, 1, 1) || ' ' || l
       |           WHEN v IN (10, 11) THEN f || ' ' || mid || ' ' || l || ' jr'
       |           WHEN v = 12 THEN nick || ' ' || l
       |           WHEN v = 13 THEN f || ' ' || missp
       |           WHEN v = 14 THEN l || ' ' || f
       |           ELSE substr(f, 1, 1) || '. ' || l
       |         END AS surface,
       |         k * 4 + m AS conv_seq
       |  FROM mention_rows
       |),
       |transcripts AS (
       |  SELECT 'c' || lpad(conv_seq::VARCHAR, 8, '0') AS conv_id,
       |         t.turn_idx::INT AS turn_idx,
       |         CASE t.turn_idx WHEN 0 THEN 'user' WHEN 2 THEN 'tool' ELSE 'assistant' END AS role,
       |         CASE t.turn_idx
       |           WHEN 0 THEN 'hi, can you pull the record for [[' || surface || ']] from the directory?'
       |           WHEN 1 THEN 'searching the directory for [[' || surface || ']] now.'
       |           WHEN 2 THEN 'found ' || (1 + (k + m) % 9)::VARCHAR || ' rows matching the query.'
       |           ELSE 'done. the best match for [[' || surface || ']] has been saved.'
       |         END AS text,
       |         CASE WHEN t.turn_idx = 2 THEN 'search' ELSE NULL END AS tool,
       |         TIMESTAMP '2025-01-01 00:00:00' + INTERVAL (conv_seq * 4 + t.turn_idx) MINUTE AS ts
       |  FROM surfaces, LATERAL (SELECT unnest(generate_series(0, 3)) AS turn_idx) t
       |)""".stripMargin
  }

  /** DuckDB CTE body for gold mention labels (table name `gold_mentions`);
    * append after [[transcriptsCte]]. */
  val goldMentionsCte: String =
    """gold_events AS (
      |  SELECT conv_id, turn_idx,
      |         regexp_extract(text, '\[\[([a-z. ]+)\]\]', 1) AS surface,
      |         'e' || (substr(conv_id, 2, 8)::BIGINT // 4)::VARCHAR AS entity_id
      |  FROM transcripts WHERE turn_idx IN (0, 1, 3)
      |),
      |gold_mentions AS (
      |  SELECT surface AS name, entity_id, count(*) AS cnt
      |  FROM gold_events GROUP BY 1, 2
      |)""".stripMargin
}
