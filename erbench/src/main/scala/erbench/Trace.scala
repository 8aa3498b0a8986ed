package erbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.Pipeline
import graft.checkpoint.CheckpointStore
import graft.pipeline._
import graft.synth.Synth

/** One finished task, as the span listener saw it (times in epoch ms). */
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long) {
  def millis: Long = finish - launch
}

/** Attributes Spark jobs and tasks to spans by the job group that each
  * span sets on the driver thread. Events arrive asynchronously, so
  * [[Tracer.fence]] waits until every earlier event has been delivered. */
final class SpanListener extends SparkListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  val jobs: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val tasks: mutable.Map[String, mutable.ArrayBuffer[TaskRec]] = mutable.Map.empty
  @volatile var fencesSeen: Int = 0

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.GroupKey)))
      .getOrElse(SpanListener.NoSpan)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    groupOfJob(e.jobId) = g
    jobs(g) += 1
    // a stage re-listed by a later job was skipped there: first job wins
    e.stageInfos.foreach(s => groupOfStage.getOrElseUpdate(s.stageId, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (groupOfJob.get(e.jobId).contains(SpanListener.Fence)) fencesSeen += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val rec = if (m == null) TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, 0, 0, 0, 0)
      else TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.peakExecutionMemory)
    tasks.getOrElseUpdate(groupOfStage.getOrElse(e.stageId, SpanListener.NoSpan),
      mutable.ArrayBuffer.empty) += rec
  }
}

object SpanListener {
  val GroupKey = "spark.jobGroup.id"
  val NoSpan = "erbench.no-span"
  val Fence = "erbench.fence"
}

/** A closed span: wall time from the driver, rows and resume flag from the
  * traced call, GC time of this JVM over the span. */
final case class Span(name: String, startMs: Long, endMs: Long, wallS: Double,
    rows: Long, resumed: Boolean, gcS: Double)

/** Records one span per traced call and rolls the listener's task metrics
  * up per span. */
final class Tracer(sc: SparkContext) {
  private val listener = new SpanListener
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def start(): Unit = sc.addSparkListener(listener)

  /** Runs `body` as span `name`. The body returns its result, the rows it
    * produced and whether it resumed from a checkpoint. */
  def span[T](name: String)(body: => (T, Long, Boolean)): T = {
    sc.setJobGroup(name, name)
    val gc0 = gcMillis
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val (out, rows, resumed) = body
      spans += Span(name, start, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, rows, resumed, (gcMillis - gc0) / 1e3)
      out
    } finally sc.clearJobGroup()
  }

  /** Runs one tiny job and waits until the listener has seen it end: the
    * bus delivers events in order, so every earlier task is recorded. */
  def fence(): Unit = {
    sc.setJobGroup(SpanListener.Fence, SpanListener.Fence)
    val want = listener.fencesSeen + 1
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (listener.fencesSeen < want) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
    sc.removeSparkListener(listener)
  }

  def jobs(span: String): Int = listener.synchronized(listener.jobs(span))
  def unattributedJobs: Int = jobs(SpanListener.NoSpan)
  def tasks(span: String): Seq[TaskRec] =
    listener.synchronized(listener.tasks.get(span).map(_.toList).getOrElse(Nil))
}

object Tracer {

  /** Milliseconds of [start, end] during which at least one task ran. */
  def busyMillis(tasks: Seq[TaskRec], start: Long, end: Long): Long = {
    val iv = tasks.map(t => (t.launch.max(start), t.finish.min(end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** max/median task time in the Spark stage with the most task time;
    * 1 when the span ran no task. */
  def skew(tasks: Seq[TaskRec]): Double =
    if (tasks.isEmpty) 1.0
    else {
      val heaviest = tasks.groupBy(_.stageId).values.maxBy(_.map(_.millis).sum)
      val ms = heaviest.map(_.millis.toDouble).sorted
      val median = Stats.median(ms)
      ms.last.max(1.0) / median.max(1.0)
    }
}

/** The result of a traced chain. */
final case class TracedRun(tracer: Tracer, totalS: Double,
    phases: Map[String, Double], assignments: DataFrame)

/** Mirrors `Pipeline.run` stage by stage (same calls, same fingerprints,
  * same `CheckpointStore`) with one span around every call, including
  * `Canonicalize.assertUniqueIds`, which `Pipeline.run` leaves outside its
  * stage timers. */
object TracedChain {

  val stages: Seq[String] =
    Seq("transcripts", "mentions", "unique_ids", "tokens", "candidates", "assignments", "eval")

  val greedyPhases: Seq[String] = Seq("cc", "prep", "small", "core", "loner", "attach")

  def run(spark: SparkSession, cfg: Pipeline.Config): TracedRun = {
    val tracer = new Tracer(spark.sparkContext)
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tracer.start()
    val t0 = System.nanoTime()
    val store = new CheckpointStore(cfg.workDir, spark)

    def stage(name: String, fp: String)(f: => DataFrame): DataFrame = tracer.span(name) {
      val resumed = store.isComplete(name, fp)
      val out = store.stage(name, fp)(f)
      (out, out.count(), resumed)
    }

    val fp0 = CheckpointStore.fingerprint("transcripts", cfg.sfDir)
    val transcripts = stage("transcripts", fp0)(Synth.transcripts(spark, cfg.sfDir))

    val fp1 = CheckpointStore.fingerprint(fp0, "mentions")
    val mentions = stage("mentions", fp1)(Canonicalize.mentions(transcripts))
    val mentionRows = tracer.spans.last.rows
    tracer.span("unique_ids") {
      Canonicalize.assertUniqueIds(mentions)
      ((), mentionRows, false)
    }

    val fp2 = CheckpointStore.fingerprint(fp1, "tokens")
    val tokens = stage("tokens", fp2)(Tokenize.tokens(mentions))

    val fp3 = CheckpointStore.fingerprint(fp2, "candidates",
      cfg.commonMsgTh.toString, cfg.relSimTh.toString, cfg.maxBlockDf.toString)
    val candidates = stage("candidates", fp3)(Blocking.candidates(tokens,
      Blocking.Config(cfg.commonMsgTh, cfg.relSimTh, cfg.maxBlockDf)))

    val fp4 = CheckpointStore.fingerprint(fp3, "assignments", cfg.clusterer, cfg.coder)
    val assignments = stage("assignments", fp4) {
      if (cfg.clusterer == "cc")
        ConnectedComponents.assignments(mentions, candidates,
          durableDir = Some(s"${cfg.workDir}/cc_loop"))
      else GreedyClustering.assignments(mentions, tokens, candidates, cfg.coder,
        durableDir = Some(s"${cfg.workDir}/greedy_loop"),
        phaseSink = Some((p: String, s: Double) => phases(p) += s))
    }

    val fp5 = CheckpointStore.fingerprint(fp4, "eval")
    stage("eval", fp5)(Evaluation.pairwiseF1(assignments, Synth.goldMentions(spark, cfg.sfDir)))

    val totalS = (System.nanoTime() - t0) / 1e9
    tracer.fence()
    TracedRun(tracer, totalS, phases.toMap, assignments)
  }
}
