package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Blocking

/** Does the blocking token-array aggregation actually run ONCE at runtime?
  *
  * The static plan shows the tokenArrays subtree planned twice (dst/org
  * branches); AQE's runtime exchange reuse should dedupe the identical
  * shuffle stages. This probe measures (a) the production `candidates`
  * shape and (b) a variant with the array aggregate explicitly pinned via
  * localCheckpoint, on a K x replicated tokens table (dev aid, test
  * scope). args: <tokensParquet> [samples]
  */
object DebugBlockReuse {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val n = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val t = spark.read.parquet(path)
    force(t)

    // (b) variant: pin the per-mention token arrays, derive both branches
    // from the materialized frame — the aggregation provably runs once
    def candidatesPinned(): DataFrame = {
      graft.functions.GraftFunctions.register(spark)
      val cfg = Blocking.Config()
      val arr = Blocking.tokenArrays(t).localCheckpoint()
      val maxDf = -1L
      val dst = arr.select(
          col("mention_id").as("dst_id"),
          expr(s"graft_block_dst(ts, ${maxDf}L, ${cfg.relSimTh}D)").as("d"))
        .select(col("dst_id"), col("d.tsc").as("tsc"),
          col("d.self_sim").as("self_sim"), col("d.plen").as("plen"))
        .select(col("dst_id"), col("tsc"), col("self_sim"), col("plen"),
          explode(expr("slice(graft_block_toks(tsc, -1L), 1, plen)")).as("token"))
      val org = arr.select(
          col("mention_id").as("org_id"),
          expr(s"graft_block_toks(ts, ${maxDf}L)").as("otoks"))
        .select(col("org_id"), col("otoks"), explode(col("otoks")).as("token"))
      dst.hint("SHUFFLE_HASH").join(org.hint("SHUFFLE_HASH"), "token")
        .filter(col("dst_id") =!= col("org_id"))
        .withColumn("v", expr("graft_block_pair(tsc, plen, otoks, token)"))
        .filter(col("v").isNotNull)
        .withColumn("common_cnt", col("v.common_cnt"))
        .withColumn("sum_sim", col("v.sum_sim"))
        .filter(col("common_cnt") >= cfg.commonMsgTh &&
          col("sum_sim") >= lit(cfg.relSimTh) * col("self_sim") - lit(Blocking.eps))
        .select(col("dst_id"), col("org_id"), col("common_cnt"),
          col("sum_sim"), col("self_sim"))
    }

    val prodSamples = Seq.fill(n)(time(force(Blocking.candidates(t))))
    val pinSamples = Seq.fill(n)(time(force(candidatesPinned())))
    println(f"blockreuse prod=${prodSamples.map(v => f"$v%.2f").mkString(",")} " +
      f"min=${prodSamples.min}%.2f  pinned=${pinSamples.map(v => f"$v%.2f").mkString(",")} " +
      f"min=${pinSamples.min}%.2f")
    spark.stop()
  }
}
