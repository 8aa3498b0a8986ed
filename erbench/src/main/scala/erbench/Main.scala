package erbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options; see README.md in this directory. `keys` and
  * `cores` are not flags: the benchmark's tests shrink runs with them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, keys: Option[Int] = None, expected: Option[Path] = None,
    cores: Int = Runtime.getRuntime.availableProcessors())

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --flag value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work", "--expected")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown flag(s): ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      trace == "1", Paths.get(need("--work")).toAbsolutePath,
      expected = kv.get("--expected").map(Paths.get(_)))
  }
}

/** The benchmark's report: an informational JSON line (input sizes,
  * digest, samples, problems) and the result line with the metrics. */
final case class Report(info: String, result: String)

object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Workload.byName(o.workload) // fail before starting Spark on a bad name
    val t0 = System.nanoTime()
    val spark = session(o.work, o.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = try measure(spark, o, sessionS) finally spark.stop()
    println(report.info)
    println(report.result)
  }

  /** A local[cores] session whose scratch space stays under `work`. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("erbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Recorded output digest, from lines `workload seed keys digest`. */
  def expectedDigest(file: Option[Path], w: Workload, seed: Long, keys: Int): Option[String] =
    file.filter(Files.exists(_)).flatMap { f =>
      Files.readAllLines(f).asScala.map(_.trim).filterNot(l => l.isEmpty || l.startsWith("#"))
        .map(_.split("\\s+")).collectFirst {
          case Array(n, s, k, d) if n == w.name && s == seed.toString && k == keys.toString => d
        }
    }

  /** Set-up, including a warm-up run, then either the timed runs
    * (`--trace 0`) or one traced run (`--trace 1`); checks every output.
    * `sessionS` is the session start. */
  def measure(spark: SparkSession, o: Opts, sessionS: Double): Report = {
    val w = Workload.byName(o.workload)
    val keys = o.keys.getOrElse(w.keys)
    val runner = new Runner(spark, w, keys, o.seed, o.work)
    val problems = mutable.ArrayBuffer.empty[String]

    val (writeS, setupRunsS, setupRuns) = runner.setup()
    val timed = mutable.ArrayBuffer.empty[RunResult]
    val traced = if (o.trace) {
      runner.prepare()
      val tr = TracedChain.run(spark, runner.config(w.timedClusterer))
      val mentions = tr.tracer.spans.find(_.name == "mentions").fold(0L)(_.rows)
      Some((tr, runner.check(tr.assignments, mentions)))
    } else {
      val t0 = System.nanoTime()
      while (timed.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        runner.prepare()
        timed += runner.run(w.timedClusterer)
      }
      None
    }

    // every output must equal the digest recorded for this workload, seed
    // and size; without one, the timed runs must agree with the first
    val expected = expectedDigest(o.expected, w, o.seed, keys)
    val ref = expected.orElse(timed.flatMap(_.output.toOption).headOption.map(_.digest))
    def failure(label: String, out: Either[String, Output], want: Option[String]): Option[String] =
      out match {
        case Left(err) => Some(s"$label: $err")
        case Right(got) if want.exists(_ != got.digest) =>
          Some(s"$label: digest ${got.digest} differs from ${want.get}")
        case _ => None
      }
    val setupFailed = setupRuns.flatMap { case (label, r) => failure(label, r.output, None) }
    val timedFailed = timed.zipWithIndex.flatMap { case (r, i) =>
      failure(s"run ${i + 1}", r.output, ref) }
    problems ++= setupFailed ++ timedFailed

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val tracedFailed = traced.fold(0) { case (tr, out) =>
      val before = problems.length
      problems ++= failure("traced run", out, ref)
      metrics ++= traceMetrics(tr)
      val spanSum = metrics("trace.span_sum_s")
      if ((tr.totalS - spanSum).abs > 0.05 * tr.totalS)
        problems += f"traced run: spans sum to $spanSum%.3f s of ${tr.totalS}%.3f s (over 5%% apart)"
      if (w.recluster) {
        val notResumed = Seq("transcripts", "mentions", "tokens", "candidates")
          .filterNot(s => tr.tracer.spans.exists(sp => sp.name == s && sp.resumed))
        if (notResumed.nonEmpty)
          problems += s"traced run: ${notResumed.mkString(", ")} did not resume from checkpoints"
      }
      if (problems.length > before) 1 else 0
    }

    val good = timed.filter(_.output.isRight).toSeq
    val sample = if (good.nonEmpty) good else timed.toSeq
    val rows: Map[String, Long] = traced match {
      case Some((tr, _)) => tr.tracer.spans.map(s => s.name -> s.rows).toMap
      case None => sample.head.rows
    }
    if (!o.trace) {
      val runS = Stats.median(sample.map(_.seconds))
      metrics("run_s") = runS
      metrics("turns_per_s") = rows.getOrElse("transcripts", 0L) / runS
      metrics("setup_s") = sessionS + writeS + setupRunsS
      metrics("checkpoint_mb") = Stats.median(sample.map(_.checkpointBytes.toDouble)) / 1e6
    }

    val attempted = setupRuns.size + timed.length + traced.size
    val failed = setupFailed.length + timedFailed.length + tracedFailed
    val out = (timed.map(_.output) ++ traced.map(_._2)).flatMap(_.toOption).headOption
    val declared = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    def count(stage: String) = rows.get(stage).fold("null")(_.toString)
    val info = Json.obj(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString, "keys" -> keys.toString,
      "turns" -> count("transcripts"), "mentions" -> count("mentions"),
      "candidates" -> count("candidates"),
      "clusters" -> out.fold("null")(_.clusters.toString),
      "largest_component" -> out.fold("null")(_.largestComponent.toString),
      "eval" -> Json.str(out.fold("")(_.eval)),
      "digest" -> Json.str(out.fold("")(_.digest)),
      "expected_digest" -> expected.fold("null")(Json.str),
      "digest_check" -> Json.str(if (expected.isDefined) "recorded" else "unrecorded"),
      "samples" -> timed.length.toString,
      "run_s_samples" -> timed.map(r => Json.num(r.seconds)).mkString("[", ", ", "]"),
      "session_s" -> Json.num(sessionS),
      "setup_runs_s" -> Json.num(setupRunsS),
      "failed_frac" -> Json.num(failed.toDouble / attempted),
      "unattributed_jobs" -> traced.fold("null")(_._1.tracer.unattributedJobs.toString),
      "problems" -> problems.map(Json.str).mkString("[", ", ", "]"))
    val result = Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(declared.map(m =>
        m.name -> Json.obj("value" -> Json.num(metrics(m.name)), "unit" -> Json.str(m.unit))): _*))
    problems.foreach(p => System.err.println(s"erbench: $p"))
    Report(info, result)
  }

  /** Per-layer metrics of a traced run. */
  def traceMetrics(tr: TracedRun): Seq[(String, Double)] = {
    val t = tr.tracer
    val perSpan = t.spans.toSeq.flatMap { sp =>
      val tasks = t.tasks(sp.name)
      val wallMs = (sp.endMs - sp.startMs).max(1L)
      def mb(f: TaskRec => Long) = tasks.map(f).sum / 1e6
      Seq(
        "wall_s" -> sp.wallS,
        "rows" -> sp.rows.toDouble,
        "resumed" -> (if (sp.resumed) 1.0 else 0.0),
        "jobs" -> t.jobs(sp.name).toDouble,
        "tasks" -> tasks.length.toDouble,
        "task_s" -> tasks.map(_.millis).sum / 1e3,
        "no_task_s" -> sp.wallS * (wallMs - Tracer.busyMillis(tasks, sp.startMs, sp.endMs)) / wallMs,
        "skew" -> Tracer.skew(tasks),
        "shuffle_read_mb" -> mb(_.shuffleRead),
        "shuffle_write_mb" -> mb(_.shuffleWrite),
        "spill_mb" -> mb(_.spill),
        "peak_exec_mem_mb" -> tasks.map(_.peakMem).maxOption.getOrElse(0L) / 1e6,
        "gc_s" -> sp.gcS).map { case (k, v) => s"${sp.name}.$k" -> v }
    }
    val rows = t.spans.map(s => s.name -> s.rows).toMap
    val spanSum = t.spans.map(_.wallS).sum
    perSpan ++
      TracedChain.greedyPhases.map(p => s"assignments.phase.${p}_s" -> tr.phases.getOrElse(p, 0.0)) ++
      Seq(
        "candidates.pairs_per_mention" -> rows("candidates").toDouble / rows("mentions").max(1L),
        "trace.span_sum_s" -> spanSum,
        "trace.total_s" -> tr.totalS)
  }
}

/** Just enough JSON writing for the report lines. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    d.toString
  }

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
