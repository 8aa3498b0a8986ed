package erbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.Pipeline
import graft.checkpoint.CheckpointStore
import graft.synth.Synth

/** What one pipeline run produced: its time, stage row counts and either
  * the output fingerprint or why the output check failed. */
final case class RunResult(seconds: Double, rows: Map[String, Long],
    output: Either[String, Output], checkpointBytes: Long)

/** Output fingerprint: SHA-256 over the sorted (mention_id, cluster_id)
  * pairs and the evaluation row. */
final case class Output(digest: String, clusters: Long, largestComponent: Long, eval: String)

/** Runs one workload's set-up and pipeline runs inside `root`. */
final class Runner(spark: SparkSession, w: Workload, keys: Int, seed: Long, root: Path) {

  private val input = root.resolve("input").toString
  val workDir: Path = root.resolve("work")
  // what a cc re-cluster rewrites, saved from the greedy run
  private val snapshot = root.resolve("snapshot")
  private val reclusterOwned = Seq("assignments", "eval", "cc_loop")

  /** Draws the keys and writes the input; returns seconds. */
  def writeInput(): Double = {
    val t0 = System.nanoTime()
    Workload.writeInput(spark, w.drawKeys(keys, seed), input)
    (System.nanoTime() - t0) / 1e9
  }

  /** Set-up before the timed runs: writes the input, then warms the JVM
    * up with the timed configuration on a tenth-size corpus of the same
    * workload and seed; a re-cluster workload then runs the greedy
    * pipeline whose checkpoints every timed run resumes from. Returns the
    * seconds of the write and of the runs, and the runs by label. */
  def setup(): (Double, Double, Seq[(String, RunResult)]) = {
    val writeS = writeInput()
    Runner.deleteTree(workDir)
    val t0 = System.nanoTime()
    val small = new Runner(spark, w, (keys / 10).max(Runner.MinWarmupKeys), seed,
      root.resolve("warmup"))
    small.writeInput()
    val warmup = "warm-up run" -> small.run(w.timedClusterer)
    val prime = if (!w.recluster) None else {
      val r = run("greedy")
      Runner.deleteTree(snapshot)
      reclusterOwned.map(workDir.resolve).filter(Files.exists(_))
        .foreach(d => Runner.copyTree(d, snapshot.resolve(d.getFileName)))
      Some("greedy set-up run" -> r)
    }
    (writeS, (System.nanoTime() - t0) / 1e9, warmup +: prime.toSeq)
  }

  /** Puts the work dir back into the state every timed run starts from. */
  def prepare(): Unit =
    if (w.recluster) {
      reclusterOwned.foreach(d => Runner.deleteTree(workDir.resolve(d)))
      Runner.copyTree(snapshot, workDir)
    } else Runner.deleteTree(workDir)

  def config(clusterer: String): Pipeline.Config =
    Pipeline.Config(input, workDir.toString, clusterer)

  /** One timed `Pipeline.run`, then the output check (untimed). */
  def run(clusterer: String): RunResult = {
    val t0 = System.nanoTime()
    try {
      val (times, assignments) = Pipeline.run(spark, config(clusterer))
      val seconds = (System.nanoTime() - t0) / 1e9
      val rows = times.map(t => t.name -> t.rows).toMap
      RunResult(seconds, rows, check(assignments, rows("mentions")), Runner.treeBytes(workDir))
    } catch {
      case NonFatal(e) =>
        RunResult((System.nanoTime() - t0) / 1e9, Map.empty, Left(s"run threw: $e"), 0L)
    }
  }

  /** Checks a run's output and fingerprints it: `assignments` has exactly
    * one row per mention, every cluster lies inside one connected
    * component, and the checkpointed evaluation row equals the pairwise
    * counts recomputed here from `assignments` and Synth's gold mentions;
    * at the default size of a giant-component workload, the largest
    * connected component is above `GreedyClustering`'s cap. */
  def check(assignments: DataFrame, mentions: Long): Either[String, Output] = {
    val rows = assignments.select("mention_id", "cluster_id", "component_id", "name").collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val distinct = pairs.iterator.map(_._1).distinct.size
    val split = rows.groupBy(_.getLong(1)).count(_._2.map(_.getLong(2)).distinct.length > 1)
    val evalRows = new CheckpointStore(workDir.toString, spark).read("eval").collect()
    lazy val recomputed = Runner.pairwise(rows.map(r => (r.getString(3), r.getLong(1))).toSeq,
      Synth.goldMentions(spark, input).select("name", "entity_id", "cnt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
    lazy val evalGot = Seq("tp", "fp", "fn", "precision", "recall", "f1")
      .map(c => evalRows.head.getAs[Double](c))
    val largest = rows.groupBy(_.getLong(2)).valuesIterator.map(_.length.toLong).max
    if (pairs.length != mentions)
      Left(s"assignments has ${pairs.length} rows for $mentions mentions")
    else if (distinct != pairs.length)
      Left(s"assignments repeats ${pairs.length - distinct} mention ids")
    else if (split > 0)
      Left(s"$split clusters span more than one connected component")
    else if (evalRows.length != 1)
      Left(s"eval has ${evalRows.length} rows, expected 1")
    else if (evalGot.zip(recomputed).exists { case (a, b) => (a - b).abs > 1e-6 * b.abs.max(1.0) })
      Left(s"eval row ${evalGot.mkString(",")} differs from recomputed ${recomputed.mkString(",")}")
    else if (w.giantComponent && keys == w.keys && largest <= Workload.GreedyComponentCap)
      Left(s"largest component has $largest mentions, not above GreedyClustering's " +
        s"${Workload.GreedyComponentCap}-mention cap")
    else {
      val eval = evalRows.head.toSeq.mkString(",")
      val md = MessageDigest.getInstance("SHA-256")
      pairs.foreach { case (m, c) => md.update(s"$m,$c\n".getBytes("UTF-8")) }
      md.update(eval.getBytes("UTF-8"))
      Right(Output(md.digest().map(b => f"$b%02x").mkString,
        pairs.iterator.map(_._2).distinct.size.toLong, largest, eval))
    }
  }
}

object Runner {

  /** Smallest warm-up corpus, in keys; it is a tenth of the timed one. */
  val MinWarmupKeys = 50

  /** Weighted pairwise (tp, fp, fn, precision, recall, f1) of `assigned`
    * (name, cluster_id) rows against gold (name, entity_id, cnt) rows, by the
    * arithmetic `Evaluation.pairwiseF1` documents, computed in plain Scala
    * without Spark. Precision, recall and F1 are rounded to 6 digits. */
  def pairwise(assigned: Seq[(String, Long)], gold: Seq[(String, String, Long)]): Seq[Double] = {
    val goldByName = gold.groupBy(_._1)
    val n = mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)
    for ((name, c) <- assigned; (_, e, cnt) <- goldByName.getOrElse(name, Nil)) n((c, e)) += cnt
    val entity = gold.groupMapReduce(_._2)(_._3)(_ + _)
    val cluster = n.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    val tp = n.valuesIterator.map(v => v * (v - 1) / 2.0).sum
    val fn = n.iterator.map { case ((_, e), v) => v * (entity(e) - v) }.sum.toDouble
    val fp = n.iterator.map { case ((c, _), v) => v * (cluster(c) - v) }.sum.toDouble
    val (p, r) = (tp / (tp + fp), tp / (tp + fn))
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(tp, fp, fn, round6(p), round6(r), round6(2 * p * r / (p + r)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Copies the tree at `from` onto `to`, creating directories as needed. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
