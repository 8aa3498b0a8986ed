package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointStore
import graft.pipeline._
import graft.synth.Synth

/** The end-to-end resumable pipeline (SURVEY.md §7.1 stage graph):
  * transcripts -> canonicalize -> tokenize -> stats/block -> cluster ->
  * evaluate, each stage checkpointed with manifest + counters. Re-running
  * with the same work dir skips completed stages (idempotent restart);
  * changing config or upstream data invalidates exactly the affected
  * suffix of the stage chain via chained fingerprints.
  *
  * The input is read once (the eval stage's gold labels derive from the
  * transcripts checkpoint) and the mentions stage checks its own ids, so
  * a fully resumed run starts no Spark job.
  */
object Pipeline {

  final case class Config(
      sfDir: String,
      workDir: String,
      clusterer: String = "greedy", // greedy | cc
      coder: String = "soundex", // soundex | metaphone | nysiis | onca | statcan
      commonMsgTh: Int = 1,
      relSimTh: Double = 0.5,
      maxBlockDf: Option[Long] = None)

  /** The clusterers `Config.clusterer` may name. */
  val Clusterers: Seq[String] = Seq("greedy", "cc")

  final case class StageTimes(name: String, seconds: Double, rows: Long)

  /** Runs (resuming where possible); returns per-stage wall times and the
    * final assignments DataFrame. */
  def run(spark: SparkSession, cfg: Config): (Seq[StageTimes], DataFrame) = {
    // both names select code inside the assignments stage; check them
    // before any stage runs, so a typo fails fast and writes nothing
    require(Clusterers.contains(cfg.clusterer),
      s"unknown clusterer '${cfg.clusterer}' (allowed: ${Clusterers.mkString("|")})")
    require(GreedyClustering.Coders.contains(cfg.coder),
      s"unknown coder '${cfg.coder}' (allowed: ${GreedyClustering.Coders.mkString("|")})")
    val store = new CheckpointStore(cfg.workDir, spark)
    val times = collection.mutable.ArrayBuffer.empty[StageTimes]

    def timed(name: String, fp: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = store.stage(name, fp)(f)
      times += StageTimes(name, (System.nanoTime() - t0) / 1e9, store.rows(name))
      out
    }

    val fp0 = CheckpointStore.fingerprint("transcripts", cfg.sfDir)
    val transcripts = timed("transcripts", fp0)(Synth.transcripts(spark, cfg.sfDir))

    val fp1 = CheckpointStore.fingerprint(fp0, "mentions")
    val mentions = timed("mentions", fp1)(Canonicalize.mentions(transcripts))

    val fp2 = CheckpointStore.fingerprint(fp1, "tokens")
    val tokens = timed("tokens", fp2)(Tokenize.tokens(mentions))

    val fp3 = CheckpointStore.fingerprint(fp2, "candidates",
      cfg.commonMsgTh.toString, cfg.relSimTh.toString, cfg.maxBlockDf.toString)
    val candidates = timed("candidates", fp3)(Blocking.candidates(tokens,
      Blocking.Config(cfg.commonMsgTh, cfg.relSimTh, cfg.maxBlockDf)))

    val fp4 = CheckpointStore.fingerprint(fp3, "assignments", cfg.clusterer, cfg.coder)
    val assignments = timed("assignments", fp4) {
      if (cfg.clusterer == "cc")
        ConnectedComponents.assignments(mentions, candidates,
          durableDir = Some(s"${cfg.workDir}/cc_loop"))
      else GreedyClustering.assignments(mentions, tokens, candidates, cfg.coder,
        durableDir = Some(s"${cfg.workDir}/greedy_loop"))
    }

    val fp5 = CheckpointStore.fingerprint(fp4, "eval")
    val eval = timed("eval", fp5)(
      Evaluation.pairwiseF1(assignments, Synth.goldMentions(transcripts)))

    (times.toSeq, assignments)
  }

  /** CLI: runMain graft.Pipeline <sfDir> <workDir> [clusterer] [coder]
    * [--preset]. `--preset` arms the production valves (graft.Presets) —
    * the 100-TB-safe plan; omit it for exact reference semantics. */
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    // fail fast on unknown flags: a typo of --preset must not silently run
    // the job with every scale valve off
    val unknown = args.filter(_.startsWith("--")).filterNot(_ == "--preset")
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.mkString(", ")} (supported: --preset)")
    require(pos.length >= 2,
      "usage: graft.Pipeline <sfDir> <workDir> [clusterer] [coder] [--preset]")
    val cfg = Config(pos(0), pos(1),
      if (pos.length > 2) pos(2) else "greedy",
      if (pos.length > 3) pos(3) else "soundex",
      maxBlockDf = if (args.contains("--preset")) Some(Presets.maxBlockDf) else None)
    val base = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // under spark-submit the master (e.g. a real cluster manager) comes in
    // via spark.master; only default to local[n] for bare `runMain`
    val spark = (if (sys.props.contains("spark.master")) base
                 else base.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (times, _) = run(spark, cfg)
    val stagesJson = times.map(t =>
      s"""{"stage": "${t.name}", "sec": ${f"${t.seconds}%.3f"}, "rows": ${t.rows}}""")
      .mkString("[", ", ", "]")
    println(s"""{"pipeline": "done", "stages": $stagesJson}""")
    spark.stop()
  }
}
