package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit specs for the DataFrame stages over tiny in-memory inputs with
  * hand-computed expectations (FIXTURES.md §4 blocking_scores analogue). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mentionsDf(names: (String, Long)*) =
    names.zipWithIndex.map { case ((n, w), i) => (n, w, (i + 1).toLong) }
      .toDF("name", "weight", "mention_id")

  test("tokenize: features and name-part tagging branches") {
    val m = mentionsDf(("john lee smith" -> 3L), ("smith john" -> 1L),
      ("j. smith" -> 1L), ("smith" -> 1L), ("john smith jr" -> 1L))
    val t = Tokenize.tokens(m)
      .select($"name", $"pos", $"token", $"is_abbr", $"is_before_dot", $"name_part")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getBoolean(3), r.getBoolean(4), r.getString(5))).toMap
    assert(t(("john lee smith", 0)) === ("john", false, false, "FIRSTNAME"))
    assert(t(("john lee smith", 1)) === ("lee", false, false, "MIDDLENAME"))
    assert(t(("john lee smith", 2)) === ("smith", false, false, "LASTNAME"))
    // reversed: pos-desc head becomes LASTNAME
    assert(t(("smith john", 0))._4 === "FIRSTNAME")
    assert(t(("smith john", 1))._4 === "LASTNAME")
    // dotted initial: abbr + before-dot, full token wins LASTNAME
    assert(t(("j. smith", 0)) === ("j", true, true, "FIRSTNAME"))
    assert(t(("j. smith", 1))._4 === "LASTNAME")
    // single token: LASTNAME only
    assert(t(("smith", 0))._4 === "LASTNAME")
    // jr mis-tagged as LASTNAME initially (faithful to reference)
    assert(t(("john smith jr", 2))._4 === "LASTNAME")
    assert(t(("john smith jr", 1))._4 === "MIDDLENAME")
  }

  test("blocking: exact 1/df scores, relative threshold, self exclusion") {
    // corpus: a='john smith' b='john lee smith' c='jane doe'
    // df: john=2, smith=2, lee=1, jane=1, doe=1
    val m = mentionsDf(("john smith" -> 2L), ("john lee smith" -> 1L), ("jane doe" -> 1L))
    val t = Tokenize.tokens(m)
    val df = Blocking.tokenDf(t).as[(String, Long)].collect().toMap
    assert(df === Map("john" -> 2L, "smith" -> 2L, "lee" -> 1L, "jane" -> 1L, "doe" -> 1L))

    val cands = Blocking.candidates(t)
      .select($"dst_id", $"org_id", $"common_cnt", $"sum_sim", $"self_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3), r.getDouble(4))).toMap
    // a<-b: shared {john, smith}: sum = 1, selfSim(a) = 1 -> keep (ratio 1)
    assert(cands((1L, 2L))._1 === 2)
    assert(math.abs(cands((1L, 2L))._2 - 1.0) < 1e-9)
    // b<-a: sum = 1, selfSim(b) = 1 + 1/1 = 2 -> ratio 0.5 >= 0.5 keep (boundary)
    assert(math.abs(cands((2L, 1L))._3 - 2.0) < 1e-9)
    // c never pairs
    assert(!cands.keys.exists { case (d, o) => d == 3L || o == 3L })
    // no self pairs
    assert(!cands.keys.exists { case (d, o) => d == o })
  }

  test("prefix-filtered blocking is value-identical to the naive self-join") {
    val t = Tokenize.tokens(Canonicalize.mentions(
      graft.synth.Synth.transcripts(spark, "/root/testdata/sf0.001")))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"dst_id", $"org_id", $"common_cnt",
        round($"sum_sim", 9), round($"self_sim", 9))
      .as[(Long, Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(canon(Blocking.candidates(t)) === canon(Blocking.candidatesNaive(t)))
  }

  test("connected components: labels, singletons, representative") {
    val m = mentionsDf(("a" -> 5L), ("b" -> 9L), ("c" -> 1L), ("d" -> 2L))
    val cand = Seq((1L, 2L), (2L, 3L)).toDF("dst_id", "org_id")
    val out = ConnectedComponents.assignments(m, cand)
      .select($"mention_id", $"component_id", $"cluster_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (1L, 2L)) // component min=1, rep = max weight (b=9)
    assert(out(2L) === (1L, 2L))
    assert(out(3L) === (1L, 2L))
    assert(out(4L) === (4L, 4L)) // singleton
  }

  test("mention_id is the top-60-bit md5 of the name, collision-free") {
    val m = Canonicalize.mentions(
      graft.synth.Synth.transcripts(spark, "/root/testdata/sf0.001"))
    Canonicalize.assertUniqueIds(m)
    val (name, id) = m.orderBy($"name").select($"name", $"mention_id")
      .as[(String, Long)].head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(id === java.lang.Long.parseLong(hex.take(15), 16))
  }

  test("marker-free extractor reproduces the planted mentions; noisy docs behave") {
    val t = graft.synth.Synth.transcripts(spark, "/root/testdata/sf0.001")
    val marked = Canonicalize.mentionEvents(t)
      .select($"conv_id", $"turn_idx", $"name").as[(String, Int, String)]
      .collect().sorted.toSeq
    val auto = Canonicalize.mentionEventsAuto(t)
      .select($"conv_id", $"turn_idx", $"name").as[(String, Int, String)]
      .collect().sorted.toSeq
    assert(auto === marked) // recall AND precision 1.0 on the contract corpus

    // unmarked noisy fixture: punctuation and stop words delimit runs;
    // single clean tokens are not mentions; initials survive
    val noisy = Seq(
      ("n1", 0, "user", "ok so the record for mary j. lopez was sent, thanks!"),
      ("n2", 0, "user", "weird edge: 42 rows for bob smith jr now."),
      ("n3", 0, "user", "that was all of it, thanks."))
      .toDF("conv_id", "turn_idx", "role", "text")
    val got = Canonicalize.mentionEventsAuto(noisy)
      .select($"conv_id", $"name").as[(String, String)].collect().toSet
    assert(got === Set(("n1", "mary j. lopez"), ("n2", "bob smith jr")))
  }

  test("mention_id collision auto-repair: unique, deterministic, no-op at full width") {
    val t = graft.synth.Synth.transcripts(spark, "/root/testdata/sf0.001")
    // 4 hex chars = 16-bit ids over ~240 names -> collisions near-certain
    val narrow = Canonicalize.mentions(t, idHexChars = 4)
      .select($"name", $"mention_id").as[(String, Long)].collect()
    assert(narrow.map(_._2).distinct.length === narrow.length,
      "salt repair must leave ids unique")
    val again = Canonicalize.mentions(t, idHexChars = 4)
      .select($"name", $"mention_id").as[(String, Long)].collect()
    assert(narrow.sorted.toSeq === again.sorted.toSeq, "repair must be deterministic")
    // end-to-end: the repaired narrow ids still drive the pipeline
    val cands = Blocking.candidates(Tokenize.tokens(
      Canonicalize.mentions(t, idHexChars = 4)))
    assert(cands.count() > 0)
    def plainId(name: String, hexChars: Int) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(name.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(hexChars), 16)
    // the keep rule: the min name of every plain-hash group keeps its id
    val groups = narrow.groupBy(p => plainId(p._1, 4))
    assert(groups.exists(_._2.length > 1) && groups.forall { case (id, g) =>
      g.minBy(_._1)._2 == id }, groups.values.filter(_.length > 1).map(_.mkString(" ")).mkString("\n"))
    // at the default width no salt fires: ids equal the plain md5 prefix
    val full = Canonicalize.mentions(t)
      .select($"name", $"mention_id").as[(String, Long)].collect().toMap
    full.foreach { case (name, id) => assert(id === plainId(name, 15)) }
  }

  test("connected components: 300-hop chain converges within the round cap") {
    // A path graph has diameter = n-1; plain min-label propagation would
    // need 299 rounds (> maxIter 50). Union-find contraction does not
    // depend on diameter: each task contracts its whole share of the path
    // at once, and the cross-task links fit one union-find in round 1.
    val edges = (1L until 300L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp.size === 300)
    assert(comp.values.forall(_ == 1L))
  }

  test("giant-component path is cluster-identical to the exact BFS on sf0.001") {
    // mini-fidelity: force EVERY component through the three-phase giant
    // path (cap=2) and require clusters identical to the exact reference
    // BFS (cap=infinity) — guards regressions of cores/loner-chaining/
    // attachment. Ids differ (each path picks its own seeds), so compare
    // the PARTITIONS: co-membership per mention set.
    def inputs(sf: String) = {
      val m = Canonicalize.mentions(
        graft.synth.Synth.transcripts(spark, s"/root/testdata/$sf")).localCheckpoint()
      val t = Tokenize.tokens(m).localCheckpoint()
      (m, t, Blocking.candidates(t).localCheckpoint())
    }
    def clusters(m: DataFrame, t: DataFrame, c: DataFrame, maxSize: Int) =
      GreedyClustering.assignments(m, t, c, maxComponentSize = maxSize)
        .select($"mention_id", $"component_id", $"cluster_id")
        .as[(Long, Long, Long)].collect()
    def split(rs: Array[(Long, Long, Long)]) = rs.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
    val (m, t, c) = inputs("sf0.001")
    val exact = split(clusters(m, t, c, Int.MaxValue))
    assert(split(clusters(m, t, c, 2)) === exact)
    // at sf0.01 the per-round batching of attachments departs from the
    // reference BFS, so the giant path owes only a well-formed partition:
    // one row per mention, every cluster inside one component
    val (m2, t2, c2) = inputs("sf0.01")
    val rows = clusters(m2, t2, c2, 2)
    assert(rows.map(_._1).toSet === m2.select($"mention_id").as[Long].collect().toSet)
    assert(rows.length === rows.map(_._1).distinct.length)
    assert(rows.groupBy(_._3).values.forall(_.map(_._2).distinct.length == 1))
    // the small/giant boundary where the paths differ: a component of
    // exactly `maxComponentSize` mentions keeps the BFS's rows, one mention
    // more gets the giant path's partition
    def byComp(rs: Array[(Long, Long, Long)]) = rs.groupBy(_._2)
    val (giant, bfs) = (byComp(rows), byComp(clusters(m2, t2, c2, Int.MaxValue)))
    val comp = bfs.keys.filter(k => split(giant(k)) != split(bfs(k))).minBy(bfs(_).length)
    val size = bfs(comp).length
    assert(byComp(clusters(m2, t2, c2, size))(comp).toSet === bfs(comp).toSet)
    assert(split(byComp(clusters(m2, t2, c2, size - 1))(comp)) === split(giant(comp)))
    // the same from parquet scans, the Pipeline's input shape (its
    // CheckpointStore stages), which the stage reads without copying
    val dir = java.nio.file.Files.createTempDirectory("greedy_parquet").toString
    def scan(df: DataFrame, name: String) = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    assert(split(clusters(scan(m, "m"), scan(t, "t"), scan(c, "c"), 2)) === exact)
  }

  test("pipeline rejects unknown clusterer and coder names before any stage") {
    for ((clusterer, coder, allowed) <- Seq(("CC", "soundex", "greedy|cc"),
        ("greedy", "metafone", "soundex|metaphone|nysiis|onca|statcan"))) {
      // no corpus at sfDir: the names must be rejected before a stage reads it
      val wd = java.nio.file.Files.createTempDirectory("graft_names").toString
      val e = intercept[IllegalArgumentException](graft.Pipeline.run(spark,
        graft.Pipeline.Config(s"$wd/no_corpus", wd, clusterer, coder)))
      assert(e.getMessage.contains(allowed))
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(wd))
      try assert(!written.anyMatch(_.getFileName.toString == "_manifest.json"))
      finally written.close()
    }
  }

  test("greedy attach loop: durable pinning is output-identical and persists rounds") {
    val m = Canonicalize.mentions(
      graft.synth.Synth.transcripts(spark, "/root/testdata/sf0.001")).localCheckpoint()
    val t = Tokenize.tokens(m).localCheckpoint()
    val c = Blocking.candidates(t).localCheckpoint()
    def run(cap: Int, durable: Option[String]) =
      GreedyClustering.assignments(m, t, c, "soundex", cap, durable)
        .select($"mention_id", $"component_id", $"cluster_id").as[(Long, Long, Long)]
        .collect()
    def partition(rows: Array[(Long, Long, Long)]) =
      rows.groupBy(_._3).values.map(_.map(_._1).sorted.toSeq).toSet
    def tempDir() = java.nio.file.Files.createTempDirectory("greedy_durable").toString
    val exact = run(Int.MaxValue, None)
    // a durable run, giant components included, persists the rounds of
    // the connected-component loop and nothing else
    val dir = tempDir()
    assert(partition(run(2, Some(dir))) === partition(exact))
    assert(new java.io.File(dir).list().toSeq === Seq("cc"))
    assert(new java.io.File(s"$dir/cc").listFiles().exists(_.getName.startsWith("cc_labels_r")))
    // the small/giant boundary: a component of exactly `maxComponentSize`
    // mentions stays on the exact path (the very rows, seeds included), one
    // mention more takes the giant path, and both give the exact partition
    val largest = exact.groupBy(_._2).values.map(_.length).max
    assert(run(largest, Some(tempDir())).toSet === exact.toSet)
    assert(partition(run(largest - 1, Some(tempDir()))) === partition(exact))
  }

  test("connected components: durable checkpoint round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("cc_durable").toString
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges, durableDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(comp.values.forall(_ == 1L))
    // loop state was persisted to parquet (resume surface for lost executors)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cc_labels_r")))
  }

  test("pairwise F1 math matches the reference formula") {
    // two clusters; gold e1 split 2/1 across them, e2 wholly in cluster 1
    val assigns = Seq((1L, "n1", 10L, 10L), (2L, "n2", 20L, 10L), (3L, "n3", 30L, 30L))
      .toDF("mention_id", "name", "weight", "cluster_id")
    val gold = Seq(("n1", "e1", 2L), ("n2", "e2", 3L), ("n3", "e1", 1L))
      .toDF("name", "entity_id", "cnt")
    val r = Evaluation.pairwiseF1(assigns, gold).collect().head
    // cluster 10: e1 n=2, e2 n=3 ; cluster 30: e1 n=1
    // tp = 1 + 3 + 0 = 4
    // fn: e1 total 3: 2*(3-2) + 1*(3-1) = 4 ; e2: 0  -> 4
    // fp: cluster10 total 5: 2*3 + 3*2 = 12 ; cluster30: 0 -> 12
    assert(r.getAs[Double]("tp") === 4.0)
    assert(r.getAs[Double]("fn") === 4.0)
    assert(r.getAs[Double]("fp") === 12.0)
  }

  test("greedy clustering end-to-end on a tiny entity pair") {
    val m = mentionsDf(
      ("john lee smith" -> 3L), ("john smith" -> 5L), ("j. lee smith" -> 1L),
      ("jane smith" -> 4L), ("jane b. smith" -> 1L))
    val t = Tokenize.tokens(m)
    val c = Blocking.candidates(t)
    val out = GreedyClustering.assignments(m, t, c)
      .select($"name", $"cluster_id").as[(String, Long)].collect().toMap
    // john-forms cluster together, jane-forms together, never across
    assert(out("john lee smith") === out("john smith"))
    assert(out("j. lee smith") === out("john smith"))
    assert(out("jane b. smith") === out("jane smith"))
    assert(out("jane smith") !== out("john smith"))
  }
}
