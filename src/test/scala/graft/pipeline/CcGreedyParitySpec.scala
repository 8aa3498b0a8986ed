package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parity for the clustering-stage rewrites: the union-find contraction
  * CC loop must label every node with its min reachable id (checked
  * against a plain-Scala union-find on random and adversarial graphs over
  * 1, 4 and 64 partitions), and the injectable precomputed-CC path of the
  * greedy clusterer must be value-identical to recomputing it. */
class CcGreedyParitySpec extends SparkSpec {
  import spark.implicits._

  test("CC: chains, stars, pairs and multi-component graphs by min id") {
    // odd chain, even chain, star, pair — mixed in one edge set
    val edges =
      (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq ++ // chain 1-6
        Seq((10L, 11L), (10L, 12L), (10L, 13L)) ++          // star at 10
        Seq((20L, 21L)) ++                                  // pair
        Seq((31L, 30L), (32L, 31L), (33L, 32L), (34L, 33L)) // reversed chain
    val out = ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    (1L to 6L).foreach(i => assert(out(i) === 1L))
    Seq(10L, 11L, 12L, 13L).foreach(i => assert(out(i) === 10L))
    Seq(20L, 21L).foreach(i => assert(out(i) === 20L))
    (30L to 34L).foreach(i => assert(out(i) === 30L))
    // empty edge set converges immediately to an empty labeling
    assert(ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("src", "dst"))
      .count() === 0L)
  }

  /** (node, min id of its component) for every node of `edges`. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** `edges` dealt round-robin over exactly `parts` partitions. */
  private def spread(edges: Seq[(Long, Long)], parts: Int) = {
    val byPart = edges.zipWithIndex.groupBy(_._2 % parts)
      .map { case (p, es) => p -> es.map(_._1) }
    spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(p => byPart.getOrElse(p, Seq.empty)).toDF("src", "dst")
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length, "one row per node")
    rows.toMap
  }

  test("CC equals a plain union-find on random graphs over 1, 4 and 64 partitions") {
    val rnd = new scala.util.Random(20261017L)
    val graphs = Seq.empty[(Long, Long)] +: (1 to 12).map { g =>
      // ids scattered over a wide range, so partition order and id order differ
      val ids = Array.fill(5 + rnd.nextInt(120))(rnd.nextLong() >>> 4)
      val base = Seq.fill(rnd.nextInt(3 * ids.length))(
        (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      val dups = base.take(base.length / 4) // duplicates
      val reversed = base.drop(base.length / 2).take(5).map(_.swap)
      val loops = ids.take(1 + g % 4).map(i => (i, i)).toSeq
      val loner = (-1000L - g, -1000L - g) // a node seen only in a self-loop
      rnd.shuffle(base ++ dups ++ reversed ++ loops :+ loner)
    }
    val dir = java.nio.file.Files.createTempDirectory("cc_prop").toString
    for ((edges, g) <- graphs.zipWithIndex; parts <- Seq(1, 4, 64)) {
      val want = oracle(edges)
      assert(labels(ConnectedComponents.run(spread(edges, parts))) === want,
        s"graph $g over $parts partitions")
      if (parts == 64)
        assert(labels(ConnectedComponents.run(spread(edges, parts),
          durableDir = Some(s"$dir/g$g"))) === want,
          s"graph $g over $parts partitions, durable")
    }
  }

  test("CC adversarial shapes converge in two rounds over 64 partitions") {
    // a star whose centre has the largest id: every partition's local root
    // is a leaf, so the centre alone links all 64 of them
    val star = (1L to 2000L).map(i => (3000L, i))
    // a 10k-node path dealt round-robin: every partition holds only
    // disjoint edges, so the first round contracts nothing
    val path = (1L until 10000L).map(i => (i, i + 1))
    for (edges <- Seq(star, path); parts <- Seq(1, 64)) {
      // round 0 contracts per partition; round 1 sees all links at once
      val got = labels(ConnectedComponents.run(spread(edges, parts), maxIter = 2))
      assert(got.size === edges.flatMap(e => Seq(e._1, e._2)).distinct.length)
      assert(got.values.forall(_ == 1L))
    }
  }

  test("CC flushes a partition above the union-find bound and still converges") {
    // one partition holding more edges than one union-find takes, in
    // shuffled order: each flush leaves fragments that round 1 joins up
    val n = ConnectedComponents.UnionFindEdges + 5000
    val edges = new scala.util.Random(7L).shuffle((1L to n.toLong).map(i => (i, i + 1)))
    val got = labels(ConnectedComponents.run(spread(edges, 1), maxIter = 2))
    assert(got.size === n + 1)
    assert(got.values.forall(_ == 1L))
  }

  test("greedy with injected precomputed CC == greedy recomputing CC internally") {
    val sfDir = "/root/testdata/sf0.001"
    val m = Canonicalize.mentions(graft.synth.Synth.transcripts(spark, sfDir))
      .localCheckpoint()
    val t = Tokenize.tokens(m).localCheckpoint()
    val cand = Blocking.candidates(t).localCheckpoint()
    val cc = ConnectedComponents.assignments(m, cand).localCheckpoint()
    val internal = GreedyClustering.assignments(m, t, cand)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val injected = GreedyClustering.assignments(m, t, cand, ccDf = Some(cc))
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(injected === internal)
  }
}
