package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

/** Resumability contract (north rule): every stage checkpointed with
  * lineage + counters; a restart skips completed stages and reproduces
  * byte-identical final clusters. */
class PipelineResumeSpec extends SparkSpec {
  import spark.implicits._

  private def deleteRec(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  test("pipeline resumes from checkpoints and reproduces identical clusters") {
    val wd = Files.createTempDirectory("graft_resume").toString
    val cfg = Pipeline.Config("/root/testdata/sf0.001", wd)

    val (t1, a1) = Pipeline.run(spark, cfg)
    val r1 = a1.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(t1.map(_.name) === Seq("transcripts", "mentions", "tokens",
      "candidates", "assignments", "eval"))
    // each manifest counts its stage from the footers of the part files
    // the write committed: one counter per part-* file, summing to rows
    t1.foreach { t =>
      val manifest = Files.readString(Paths.get(wd, t.name, "_manifest.json"))
      val counters = """\{"file": "([^"]+)", "rows": (\d+)\}""".r
        .findAllMatchIn(manifest).map(m => m.group(1) -> m.group(2).toLong).toSeq
      val parts = new java.io.File(s"$wd/${t.name}/data").list()
        .filter(_.startsWith("part-")).toSet
      assert(parts.nonEmpty && counters.map(_._1).toSet === parts, t.name)
      assert(counters.map(_._2).sum === t.rows, t.name)
    }

    // second run: every stage must be skipped (manifest fingerprints match)
    val (t2, a2) = Pipeline.run(spark, cfg)
    val r2 = a2.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(r2 === r1)
    // skipped stages are dramatically cheaper than computed ones
    assert(t2.map(_.seconds).sum < t1.map(_.seconds).sum)

    // kill downstream stages; resume recomputes only those, same result
    deleteRec(s"$wd/assignments")
    deleteRec(s"$wd/eval")
    val (_, a3) = Pipeline.run(spark, cfg)
    val r3 = a3.select($"mention_id", $"cluster_id").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(r3 === r1)

    // config change invalidates exactly the affected suffix
    val (t4, _) = Pipeline.run(spark, cfg.copy(clusterer = "cc"))
    val recomputed = t4.filter(t => t.name == "assignments" || t.name == "eval")
    assert(recomputed.nonEmpty)
    deleteRec(wd)
  }

  test("a stage that lost a data file is recomputed on resume, not trusted") {
    val wd = Files.createTempDirectory("graft_lost_part").toString
    def lose(stage: String) = assert(new java.io.File(s"$wd/$stage/data").listFiles()
      .filter(_.getName.startsWith("part-")).maxBy(_.length).delete())
    val cfg = Pipeline.Config("/root/testdata/sf0.001", wd)
    val (t1, _) = Pipeline.run(spark, cfg)
    lose("tokens") // its only part file at this size: the data no longer reads
    val (t2, _) = Pipeline.run(spark, cfg)
    assert(t2.map(t => t.name -> t.rows) === t1.map(t => t.name -> t.rows))
    assert(spark.read.parquet(s"$wd/tokens/data").count() === t1(2).rows)
    // one part of four lost: the data still reads but is short of the manifest
    val store = new graft.checkpoint.CheckpointStore(wd, spark)
    store.stage("s", "X")(spark.range(100).repartition(4).toDF())
    lose("s")
    assert(store.stage("s", "X")(spark.range(100).toDF()).count() === 100)
    deleteRec(wd)
  }

  test("a run that fails mid-write leaves no manifest to resume on") {
    val wd = Files.createTempDirectory("graft_crash").toString
    val store = new graft.checkpoint.CheckpointStore(wd, spark)
    var computed = 0
    def good() = { computed += 1; Seq(1L, 2L, 3L).toDF("v") }

    // run 1 completes the stage with fingerprint X
    store.stage("s", "X")(good())
    assert(store.isComplete("s", "X") && computed == 1)

    // run 2 (fingerprint Y) dies while its data is being written: the
    // overwrite has already removed X's data when the job fails
    intercept[Exception] {
      store.stage("s", "Y")(spark.range(3).map { i =>
        if (i == 2L) throw new IllegalStateException("killed mid-write"); i
      }.toDF("v"))
    }
    assert(!store.isComplete("s", "X"))

    // run 3 with X again must recompute, not resume
    val back = store.stage("s", "X")(good())
    assert(computed == 2)
    assert(back.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(store.isComplete("s", "X") && !store.isComplete("s", "Y"))

    // a compute that throws before producing a frame also drops the manifest
    intercept[IllegalStateException] {
      store.stage("s", "Y")(throw new IllegalStateException("compute failed"))
    }
    assert(!store.isComplete("s", "X"))

    // the fingerprint is matched exactly, not as a substring
    store.stage("s", "abc")(good())
    assert(store.isComplete("s", "abc"))
    assert(!store.isComplete("s", "ab") && !store.isComplete("s", "bc"))
    deleteRec(wd)
  }
}
