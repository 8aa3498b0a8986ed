package erbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.pipeline.Evaluation
import graft.synth.{NamePools, Synth}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work: Path = Paths.get("target", "test-work").toAbsolutePath
  private lazy val spark: SparkSession = Main.session(work.resolve("session"), 2)
  private val json = new ObjectMapper()

  override def afterAll(): Unit = {
    spark.stop()
    Runner.deleteTree(work)
  }

  private def declared(section: String): Seq[Metrics.Metric] =
    json.readTree(Paths.get("..", "BENCHMARK.json").toFile).get(section).elements().asScala
      .map(m => Metrics.Metric(m.get("name").asText, m.get("unit").asText, m.get("better").asText))
      .toSeq

  test("BENCHMARK.json declares exactly the metrics the benchmark prints, on known workloads") {
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    val names = json.readTree(Paths.get("..", "BENCHMARK.json").toFile).get("workloads")
      .elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(n => Workload.all.exists(_.name == n)))
  }

  private val tinyKeys = Map("er_scale" -> 150, "er_skew" -> 120, "er_recluster" -> 150)

  for (w <- Workload.all) test(s"${w.name}: a tiny run prints every declared metric and passes its checks") {
    def report(trace: Boolean): (JsonNode, JsonNode) = {
      val o = Opts(w.name, seed = 7, seconds = 0.0, trace = trace,
        work = work.resolve(s"${w.name}-$trace"), keys = tinyKeys.get(w.name), cores = 2)
      val r = Main.measure(spark, o, sessionS = 1.0)
      (json.readTree(r.info), json.readTree(r.result))
    }
    def check(result: JsonNode, section: String): Unit = {
      assert(result.get("correct").asBoolean, result.toString)
      assert(result.get("failed").asInt == 0 && result.get("attempted").asInt >= 1)
      val metrics = result.get("metrics")
      assert(metrics.fieldNames().asScala.toSeq == declared(section).map(_.name))
      declared(section).foreach { m =>
        assert(metrics.get(m.name).get("unit").asText == m.unit, m.name)
        assert(metrics.get(m.name).get("value").isNumber, m.name)
      }
    }
    val (info, plain) = report(trace = false)
    check(plain, "end_to_end")
    assert(info.get("turns").asLong > 0 && info.get("candidates").asLong > 0)
    val (tracedInfo, traced) = report(trace = true)
    check(traced, "per_layer")
    assert(tracedInfo.get("digest").asText == info.get("digest").asText)
    val resumed = traced.get("metrics").get("candidates.resumed").get("value").asDouble
    assert(resumed == (if (w.recluster) 1.0 else 0.0))
  }

  test("every er_skew key reaches Synth's names through the chosen last-name bases") {
    val skew = Workload.byName("er_skew")
    val allowed = Workload.skewBases.toSeq.flatMap(b => Seq(NamePools.last(b), NamePools.misspellOfLast(b)))
    // every surface Synth plants carries the last name or its misspelling
    def offBase(w: Workload): Long = {
      val dir = work.resolve(s"bases-${w.name}")
      Workload.writeInput(spark, w.drawKeys(300, seed = 3), dir.toString)
      Synth.goldMentions(spark, dir.toString).select("name").collect().map(_.getString(0))
        .count(n => !n.split(" ").exists(t => allowed.exists(t.startsWith)))
    }
    assert(offBase(skew) == 0L)
    assert(offBase(Workload.byName("er_scale")) > 0L) // the check has teeth
  }

  test("the same seed draws the same keys; another seed draws others") {
    val w = Workload.byName("er_scale")
    assert(w.drawKeys(500, 11).sameElements(w.drawKeys(500, 11)))
    assert(!w.drawKeys(500, 11).sameElements(w.drawKeys(500, 12)))
    assert(w.drawKeys(500, 11).forall(k => k >= 1 && k < Workload.MaxKey))
  }

  test("the plain-Scala pairwise recount equals Evaluation.pairwiseF1") {
    val sp = spark
    import sp.implicits._
    val assigned = Seq(("ann", 1L), ("anne", 1L), ("bob", 2L), ("rob", 3L))
    val gold = Seq(("ann", "e1", 2L), ("anne", "e1", 1L), ("bob", "e2", 1L), ("rob", "e2", 3L),
      ("ann", "e3", 1L), ("zed", "e3", 1L))
    val row = Evaluation.pairwiseF1(assigned.toDF("name", "cluster_id"),
      gold.toDF("name", "entity_id", "cnt")).collect().head
    assert(Runner.pairwise(assigned, gold) == (0 until 6).map(row.getDouble))
    assert(Runner.pairwise(assigned, gold).take(3) == Seq(6.0, 6.0, 7.0)) // tp, fp, fn by hand
  }

  test("busy time merges overlapping task intervals and clips them to the span") {
    def t(a: Long, b: Long) = TaskRec(0, a, b, 0, 0, 0, 0)
    assert(Tracer.busyMillis(Seq(t(0, 10), t(5, 20), t(30, 40)), 0, 100) == 30)
    assert(Tracer.busyMillis(Seq(t(-5, 10), t(95, 120)), 0, 100) == 15)
    assert(Tracer.busyMillis(Nil, 0, 100) == 0)
    assert(Tracer.skew(Seq(t(0, 10), t(0, 10), t(0, 40))) == 4.0)
  }
}
