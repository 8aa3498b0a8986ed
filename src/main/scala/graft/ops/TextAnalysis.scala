package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * language ID (stopword-ratio heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and document fingerprinting
  * (polynomial rolling hash). All pure column expressions — one scan,
  * fully codegen'd, trivially scalable. */
object TextAnalysis {

  /** Tiny per-language stopword lists (heuristic n-gram-free lang-id). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "is", "to", "in", "of", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "im", "mit", "auf", "ein"),
    "fr" -> Seq("le", "la", "et", "est", "dans", "pour", "sur", "avec", "un", "une"),
    "es" -> Seq("el", "la", "y", "es", "en", "para", "con", "un", "una", "por"))

  private def ratioFor(lang: String) = {
    val lst = stopwords(lang).map(w => s"'$w'").mkString("(", ", ", ")")
    expr(s"size(filter(words, w -> w in $lst)) / cast(greatest(size(words), 1) as double)")
  }

  /** Adds EVERY per-row text signal as columns (lang ratios + lang_pred,
    * quality features + composite, repetition ratios, the distinct 3-gram
    * shingle array `g3d`) to a frame with a `text` column, keeping the
    * input columns. One shared builder so the batch operators below and
    * the streaming curation path ([[graft.streaming.StreamingCuration]])
    * evaluate the SAME expressions and cannot diverge — all pure row-local
    * projections, so the plan is still a single codegen'd scan whichever
    * subset a caller selects. */
  private[graft] def withSignalCols(df: DataFrame): DataFrame = df
    .withColumn("words", split(col("text"), " "))
    .withColumn("r_en", round(ratioFor("en"), 6))
    .withColumn("r_de", round(ratioFor("de"), 6))
    .withColumn("r_fr", round(ratioFor("fr"), 6))
    .withColumn("r_es", round(ratioFor("es"), 6))
    .withColumn("best",
      greatest(col("r_en"), col("r_de"), col("r_fr"), col("r_es")))
    .withColumn("lang_pred",
      when(col("best") <= 0, "und")
        .when(col("r_en") === col("best"), "en")
        .when(col("r_de") === col("best"), "de")
        .when(col("r_fr") === col("best"), "fr")
        .otherwise("es"))
    .withColumn("n_words", size(col("words")).cast("long"))
    .withColumn("mean_word_len",
      round(expr("aggregate(words, 0L, (a, w) -> a + length(w)) / cast(greatest(size(words), 1) as double)"), 6))
    .withColumn("punct_ratio",
      round((length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", "")))
        / length(col("text")).cast("double"), 6))
    .withColumn("stop_ratio", round(ratioFor("en"), 6))
    .withColumn("quality", round(
      least(col("n_words") / lit(50.0), lit(1.0)) * 0.4
        + (lit(1.0) - col("punct_ratio")) * 0.3
        + least(col("mean_word_len") / lit(8.0), lit(1.0)) * 0.3, 6))
    .withColumn("top_word_ratio", round(expr(
      """array_max(transform(array_distinct(words),
        |  d -> size(filter(words, x -> x = d)))) / cast(size(words) as double)""".stripMargin), 6))
    .withColumn("g3", TextDedup.trigrams("words"))
    .withColumn("dup_3gram_ratio", round(expr(
      """CASE WHEN size(g3) > 0
        |     THEN (size(g3) - size(array_distinct(g3))) / cast(size(g3) as double)
        |     ELSE 0.0D END""".stripMargin), 6))
    .withColumn("g3d", array_distinct(col("g3")))

  /** (doc_id, lang, en/de/fr/es ratios, lang_pred). Ties and all-zero
    * scores resolve to 'und'. */
  def langId(documents: DataFrame): DataFrame =
    withSignalCols(documents.select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), col("r_en"), col("r_de"),
        col("r_fr"), col("r_es"), col("lang_pred"))

  /** Quality features + composite score:
    * (doc_id, n_words, mean_word_len, punct_ratio, stop_ratio, quality). */
  def qualityScore(documents: DataFrame): DataFrame =
    withSignalCols(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("punct_ratio"), col("stop_ratio"), col("quality"))

  /** Token counting: whitespace tokens and BPE-ish regex tokens
    * (alnum runs + single punctuation marks). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(split(col("text"), " +")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)")).cast("long")
        .as("bpe_tokens"))

  /** Polynomial rolling-hash fingerprint over words, mod 2^31:
    * (doc_id, fingerprint). */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      aggregate(split(col("text"), " "), lit(0L),
        (acc, w) => (acc * 131 + TextDedup.h32(w)) % 2147483648L).as("fingerprint"))

  /** Gopher-style repetition signals: fraction of the doc taken by its
    * most frequent word, and fraction of word-3-grams that are duplicates
    * — the standard boilerplate/loop filters of pretraining pipelines.
    * Pure higher-order column expressions, one scan. */
  def repetition(documents: DataFrame): DataFrame =
    withSignalCols(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("top_word_ratio"), col("dup_3gram_ratio"))

  /** PII patterns — restricted to syntax with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs, and NO
    * backslashes (metacharacters via character classes instead), so the
    * same literal text survives Scala, Spark-SQL-literal, and DuckDB
    * string escaping unchanged. */
  val emailRx = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val ipRx = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val phoneRx = "[+]?[0-9]{3}-[0-9]{3}-[0-9]{4}|[+]?[0-9]{10,12}"

  /** PII scrub: per-doc counts of emails / IPv4s / phone numbers and the
    * md5 of the redacted text (emails -> `<email>`, IPs -> `<ip>`, phones
    * -> `<phone>`, applied in that order). Pure column expressions — one
    * codegen'd scan, the shape a 100-TB redaction pass needs. */
  def piiScrub(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(expr(s"regexp_extract_all(text, '$emailRx', 0)")).cast("long").as("n_emails"),
      size(expr(s"regexp_extract_all(text, '$ipRx', 0)")).cast("long").as("n_ips"),
      size(expr(s"regexp_extract_all(text, '$phoneRx', 0)")).cast("long").as("n_phones"),
      md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
        emailRx, "<email>"), ipRx, "<ip>"), phoneRx, "<phone>")).as("clean_hash"))

  // ---------------------------------------------------------------- oracle

  private def sqlList(lang: String): String =
    stopwords(lang).mkString("('", "', '", "')")

  val ctes: String =
    s"""ta_words AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS words FROM documents
       |),
       |ta_ratios AS (
       |  SELECT doc_id, lang,
       |    round(len([w FOR w IN words IF w IN ${sqlList("en")}]) / greatest(len(words), 1)::DOUBLE, 6) AS r_en,
       |    round(len([w FOR w IN words IF w IN ${sqlList("de")}]) / greatest(len(words), 1)::DOUBLE, 6) AS r_de,
       |    round(len([w FOR w IN words IF w IN ${sqlList("fr")}]) / greatest(len(words), 1)::DOUBLE, 6) AS r_fr,
       |    round(len([w FOR w IN words IF w IN ${sqlList("es")}]) / greatest(len(words), 1)::DOUBLE, 6) AS r_es
       |  FROM ta_words
       |),
       |lang_id AS (
       |  SELECT doc_id, lang, r_en, r_de, r_fr, r_es,
       |         CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
       |              WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
       |              WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
       |              WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
       |              ELSE 'es' END AS lang_pred
       |  FROM ta_ratios
       |),
       |quality AS (
       |  SELECT doc_id, n_words, mean_word_len, punct_ratio, stop_ratio,
       |         round(least(n_words / 50.0, 1.0) * 0.4
       |               + (1.0 - punct_ratio) * 0.3
       |               + least(mean_word_len / 8.0, 1.0) * 0.3, 6) AS quality
       |  FROM (
       |    SELECT w.doc_id, len(words)::BIGINT AS n_words,
       |           round(list_sum([len(x) FOR x IN words])
       |                 / greatest(len(words), 1)::DOUBLE, 6) AS mean_word_len,
       |           round((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
       |                 / length(text)::DOUBLE, 6) AS punct_ratio,
       |           r.r_en AS stop_ratio
       |    FROM ta_words w JOIN ta_ratios r USING (doc_id)
       |  )
       |),
       |token_counts AS (
       |  SELECT doc_id,
       |         len(regexp_split_to_array(text, ' +'))::BIGINT AS ws_tokens,
       |         len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens
       |  FROM documents
       |),
       |doc_fingerprints AS (
       |  SELECT doc_id,
       |         list_reduce(
       |           list_prepend(0::BIGINT,
       |             [ ('0x' || substr(md5(w), 1, 8))::BIGINT FOR w IN string_split(text, ' ') ]),
       |           (acc, x) -> (acc * 131 + x) % 2147483648) AS fingerprint
       |  FROM documents
       |),
       |repetition AS (
       |  SELECT doc_id,
       |         round(list_max([len([x FOR x IN w IF x = d]) FOR d IN list_distinct(w)])
       |               / len(w)::DOUBLE, 6) AS top_word_ratio,
       |         round(CASE WHEN len(g) > 0
       |                    THEN (len(g) - len(list_distinct(g))) / len(g)::DOUBLE
       |                    ELSE 0.0 END, 6) AS dup_3gram_ratio
       |  FROM (
       |    SELECT doc_id, w,
       |           CASE WHEN len(w) >= 3
       |                THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                      FOR i IN generate_series(1, len(w) - 2)]
       |                ELSE [] END AS g
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  )
       |),
       |pii_scrub AS (
       |  SELECT doc_id,
       |         len(regexp_extract_all(text, '$emailRx'))::BIGINT AS n_emails,
       |         len(regexp_extract_all(text, '$ipRx'))::BIGINT AS n_ips,
       |         len(regexp_extract_all(text, '$phoneRx'))::BIGINT AS n_phones,
       |         md5(regexp_replace(regexp_replace(regexp_replace(text,
       |           '$emailRx', '<email>', 'g'), '$ipRx', '<ip>', 'g'),
       |           '$phoneRx', '<phone>', 'g')) AS clean_hash
       |  FROM documents
       |)""".stripMargin
}
