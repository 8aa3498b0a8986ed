package erbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark workload: which customer keys feed `Synth`, how many, and
  * how each timed `Pipeline.run` is configured.
  *
  * `Synth.transcripts` and `Synth.goldMentions` read only
  * `customer.c_custkey` and derive every name from the key by arithmetic,
  * so a seeded one-column `customer.parquet` is the whole input.
  *
  * @param keys          corpus size in entities (customer keys)
  * @param lastNameBases keep only keys whose Synth last-name base is in
  *                      this set; None draws keys uniformly
  * @param recluster     set-up checkpoints every stage with a greedy run;
  *                      each timed run re-clusters with `cc` on top of it
  * @param giantComponent at the default size, the output check requires a
  *                      connected component above [[Workload.GreedyComponentCap]]
  */
final case class Workload(name: String, keys: Int,
    lastNameBases: Option[Set[Int]], recluster: Boolean, giantComponent: Boolean = false) {

  def timedClusterer: String = if (recluster) "cc" else "greedy"

  /** `n` distinct keys drawn from `seed`; the same seed gives the same keys. */
  def drawKeys(n: Int, seed: Long): Array[Long] = {
    val rnd = new java.util.SplittableRandom(seed)
    val out = mutable.HashSet.empty[Long]
    while (out.size < n) {
      val k = 1L + rnd.nextLong(Workload.MaxKey - 1)
      if (lastNameBases.forall(_.contains(Workload.lastNameBase(k)))) out += k
    }
    out.toArray.sorted
  }
}

object Workload {

  /** Synth writes the conversation id `k * 4 + m` as 8 digits, so keys
    * stay below 25M to keep ids (and entity ids) exact. */
  val MaxKey: Long = 25000000L

  /** Synth's last-name base index of a key (its `l` column). */
  def lastNameBase(k: Long): Int =
    (((k * 2654435761L) % 2147483647L) / 800 % 60).toInt

  /** martinez (9) and martin (18) share the Soundex code M635, so the skewed
    * corpus has hub last-name tokens and one giant Soundex group. */
  val skewBases: Set[Int] = Set(9, 18)

  /** `GreedyClustering.assignments`' default `maxComponentSize`: larger
    * components take its distributed giant-component path. */
  val GreedyComponentCap: Int = 3000

  val all: Seq[Workload] = Seq(
    Workload("er_scale", 5000, None, recluster = false),
    Workload("er_skew", 1800, Some(skewBases), recluster = false, giantComponent = true),
    Workload("er_recluster", 5000, None, recluster = true))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Writes `keys` as `<dir>/customer.parquet` (`c_custkey: bigint`). */
  def writeInput(spark: SparkSession, keys: Array[Long], dir: String): Unit = {
    import spark.implicits._
    keys.toSeq.toDF("c_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }
}
