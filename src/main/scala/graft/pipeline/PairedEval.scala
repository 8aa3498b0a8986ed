package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E-2 — paired F-measure over labeled mention pairs
  * (evaluation/paired/FMeasure.java:60-116): per pair, inc = w1*w2;
  * tp when prediction agrees with the label (including true negatives —
  * faithful quirk), fp when clustered but labeled non-match, fn when
  * split but labeled match. */
object PairedEval {

  /** goldPairs: (id1, id2, label). assignments: (mention_id, weight,
    * cluster_id). */
  def pairedF1(assignments: DataFrame, goldPairs: DataFrame): DataFrame = {
    val a1 = assignments.select(col("mention_id").as("id1"),
      col("weight").as("w1"), col("cluster_id").as("c1"))
    val a2 = assignments.select(col("mention_id").as("id2"),
      col("weight").as("w2"), col("cluster_id").as("c2"))
    goldPairs.join(a1, "id1").join(a2, "id2")
      .select(
        (col("w1") * col("w2")).as("inc"),
        (col("c1") === col("c2")).as("same"),
        (col("label") === 1).as("matched"))
      .agg(
        sum(when(col("same") === col("matched"), col("inc")).otherwise(0L)).as("tp"),
        sum(when(col("same") && !col("matched"), col("inc")).otherwise(0L)).as("fp"),
        sum(when(!col("same") && col("matched"), col("inc")).otherwise(0L)).as("fn"))
      .select(Evaluation.scores: _*)
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTE `paired_eval` over `gold_pairs` + `assignments`. */
  val ctes: String =
    """paired_joined AS (
      |  SELECT g.label, a1.weight * a2.weight AS inc,
      |         a1.cluster_id = a2.cluster_id AS same
      |  FROM gold_pairs g
      |  JOIN assignments a1 ON g.id1 = a1.mention_id
      |  JOIN assignments a2 ON g.id2 = a2.mention_id
      |),
      |paired_sums AS (
      |  SELECT sum(CASE WHEN same = (label = 1) THEN inc ELSE 0 END) AS tp,
      |         sum(CASE WHEN same AND label = 0 THEN inc ELSE 0 END) AS fp,
      |         sum(CASE WHEN NOT same AND label = 1 THEN inc ELSE 0 END) AS fn
      |  FROM paired_joined
      |),
      |paired_eval AS (
      |  SELECT tp::DOUBLE AS tp, fp::DOUBLE AS fp, fn::DOUBLE AS fn,
      |         round(tp / (tp + fp), 6) AS precision,
      |         round(tp / (tp + fn), 6) AS recall,
      |         round(2 * (tp / (tp + fp)) * (tp / (tp + fn))
      |               / ((tp / (tp + fp)) + (tp / (tp + fn))), 6) AS f1
      |  FROM paired_sums
      |)""".stripMargin
}
