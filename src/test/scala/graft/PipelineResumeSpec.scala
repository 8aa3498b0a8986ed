package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

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

  /** Runs `body` and returns its result with every job that ran
    * meanwhile: its call site, and whether it ran outside a SQL execution
    * (a job inside one carries its execution id). A schema-inference read
    * is such a job. The bus delivers events in order, so once a fence
    * job's start is seen, every earlier job's has been. */
  private def jobsDuring[T](body: => T): (T, Seq[(String, Boolean)]) = {
    val sc = spark.sparkContext
    val fence = "graft.test.fence"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == fence)) fenced = true
        else jobs.add((e.stageInfos.flatMap(_.details.linesIterator)
            .filter(_.startsWith("graft.")).take(3).mkString(" < "),
          props.forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null)))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
      assert(fenced, "listener bus did not drain within 60 s")
      (out, jobs.toArray(Array.empty[(String, Boolean)]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("checkpoints are written and resumed without schema-inference jobs") {
    val wd = Files.createTempDirectory("graft_no_inference").toString
    val cfg = Pipeline.Config("/root/testdata/sf0.001", wd)
    def outsideSql(jobs: Seq[(String, Boolean)]) = jobs.filter(_._2).map(_._1)
    // a fresh run's only job outside SQL is Synth.transcripts' inference
    // read of its input (customer.parquet); gold derives from the checkpoint
    val ((t1, a1), fresh) = jobsDuring(Pipeline.run(spark, cfg))
    // a fully resumed run reads every stage with its footer schema and
    // starts no job at all
    val ((t2, a2), resumed) = jobsDuring(Pipeline.run(spark, cfg))
    assert((outsideSql(fresh).length, resumed.length) === (1, 0),
      (outsideSql(fresh) ++ resumed.map(_._1)).mkString("\n"))
    assert(outsideSql(fresh).forall(_.startsWith("graft.synth.Synth$.transcripts")),
      outsideSql(fresh).mkString("\n"))
    // re-clustering with cc over those checkpoints reads no input again
    val (_, recluster) = jobsDuring(Pipeline.run(spark, cfg.copy(clusterer = "cc")))
    assert(outsideSql(recluster).isEmpty, outsideSql(recluster).mkString("\n"))
    assert(t2.map(t => t.name -> t.rows) === t1.map(t => t.name -> t.rows))
    // written and resumed frames carry the schema inference would give
    val inferred = spark.read.parquet(s"$wd/assignments/data").schema
    assert(a1.schema === inferred && a2.schema === inferred)
    val store = new graft.checkpoint.CheckpointStore(wd, spark)
    t1.foreach(t => assert(store.read(t.name).schema ===
      spark.read.parquet(s"$wd/${t.name}/data").schema, t.name))
    deleteRec(wd)
  }

  test("a stage's frame has the inferred schema when written and when resumed") {
    val wd = Files.createTempDirectory("graft_schema").toString
    val store = new graft.checkpoint.CheckpointStore(wd, spark)
    // non-nullable columns, a nested struct, an array, a map and column
    // metadata: inference makes every field nullable and keeps the metadata
    def frame() = spark.range(5).select($"id",
      struct($"id".as("a"), ($"id" * 2).cast("int").as("b")).as("s"),
      array($"id").as("xs"), map($"id", lit("v")).as("m"),
      lit(1.5).as("d", new org.apache.spark.sql.types.MetadataBuilder()
        .putString("note", "kept").build()))
    val written = store.stage("s", "X")(frame())
    val inferred = spark.read.parquet(s"$wd/s/data").schema
    val resumed = store.stage("s", "X")(throw new IllegalStateException("not resumed"))
    assert(written.schema === inferred && resumed.schema === inferred)
    assert(resumed.orderBy($"id").collect().toSeq === frame().orderBy($"id").collect().toSeq)
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
    // the rows are all there, but in a file whose footer holds no Spark
    // schema (a plain parquet writer's): unreadable, so recomputed
    store.stage("t", "X")(spark.range(100).coalesce(1).toDF())
    val part = new java.io.File(s"$wd/t/data").listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(part.toURI)).withType(schema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try (0L until 100L).foreach(i => writer.write(groups.newGroup().append("id", i)))
    finally writer.close()
    assert(spark.read.parquet(s"$wd/t/data").count() === 100)
    var recomputed = false
    store.stage("t", "X") { recomputed = true; spark.range(100).toDF() }
    assert(recomputed)
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
