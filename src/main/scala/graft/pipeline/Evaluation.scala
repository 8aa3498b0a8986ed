package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage 6 — evaluation.
  *
  * E-1: weighted pairwise precision/recall/F1, the reference's
  * PairwiseFMeasure (evaluation/collective/PairwiseFMeasure.java:60-79),
  * reproduced with its exact arithmetic (tp counts unordered pairs n(n-1)/2
  * while fp/fn accumulate ordered cross pairs — faithful to the published
  * numbers, which is the acceptance gate).
  *
  * Inputs: assignments(mention_id, name, cluster_id), gold(name, entity_id,
  * cnt) — cnt is the RID_REF edge weight (# mention occurrences of that
  * name under that gold id).
  */
object Evaluation {

  def pairwiseF1(assignments: DataFrame, gold: DataFrame): DataFrame = {
    // one read of gold: each (name, entity) row carries its entity's total
    // and each contingency cell its cluster's. Both windows are small, one
    // row per (name, entity) and per (cluster, entity)
    val goldTotals = gold.withColumn("n_entity",
      sum(col("cnt")).over(Window.partitionBy(col("entity_id"))))
    assignments.join(goldTotals, "name")
      .groupBy(col("cluster_id"), col("entity_id"), col("n_entity"))
      .agg(sum(col("cnt")).as("n"))
      .withColumn("n_cluster", sum(col("n")).over(Window.partitionBy(col("cluster_id"))))
      .agg(
        sum(col("n") * (col("n") - 1) / 2).as("tp"),
        sum(col("n") * (col("n_entity") - col("n"))).as("fn"),
        sum(col("n") * (col("n_cluster") - col("n"))).as("fp"))
      .select(scores: _*)
  }

  /** The eval row over a one-row frame of `tp`, `fp`, `fn` sums:
    * (tp, fp, fn, precision, recall, f1), shared with
    * [[PairedEval.pairedF1]]. The ratios divide the sums as they come
    * (before the double casts), as both oracles do. */
  private[pipeline] val scores: Seq[Column] = {
    val (tp, fp, fn) = (col("tp"), col("fp"), col("fn"))
    val p = tp / (tp + fp)
    val r = tp / (tp + fn)
    Seq(tp.cast("double").as("tp"), fp.cast("double").as("fp"),
      fn.cast("double").as("fn"), round(p, 6).as("precision"),
      round(r, 6).as("recall"), round(lit(2) * p * r / (p + r), 6).as("f1"))
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTE producing the same single-row measure from `assignments`
    * and `gold_mentions`. Append after ConnectedComponents.ctes +
    * Synth.goldMentionsCte. */
  val ctes: String =
    """eval_contingency AS (
      |  SELECT a.cluster_id, g.entity_id, sum(g.cnt) AS n
      |  FROM assignments a JOIN gold_mentions g USING (name)
      |  GROUP BY 1, 2
      |),
      |eval_entity AS (
      |  SELECT entity_id, sum(cnt) AS n_entity FROM gold_mentions GROUP BY 1
      |),
      |eval_cluster AS (
      |  SELECT cluster_id, sum(n) AS n_cluster FROM eval_contingency GROUP BY 1
      |),
      |eval_sums AS (
      |  SELECT sum(n * (n - 1) / 2) AS tp,
      |         sum(n * (n_entity - n)) AS fn,
      |         sum(n * (n_cluster - n)) AS fp
      |  FROM eval_contingency c
      |  JOIN eval_entity e USING (entity_id)
      |  JOIN eval_cluster k USING (cluster_id)
      |),
      |pairwise_eval AS (
      |  SELECT tp::DOUBLE AS tp, fp::DOUBLE AS fp, fn::DOUBLE AS fn,
      |         round(tp / (tp + fp), 6) AS precision,
      |         round(tp / (tp + fn), 6) AS recall,
      |         round(2 * (tp / (tp + fp)) * (tp / (tp + fn))
      |               / ((tp / (tp + fp)) + (tp / (tp + fn))), 6) AS f1
      |  FROM eval_sums
      |)""".stripMargin
}
