package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))

  test("exact dedup groups identical texts, keeps min id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = TextDedup.exactDups(d).select($"doc_id", $"keep_id", $"is_dup")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (1L, false))
    assert(out(2L) === (1L, true))
    assert(out(3L) === (3L, false))
  }

  test("minhash LSH finds near-duplicates, jaccard exact on shingles") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text with no overlap at all whatsoever"))
    val pairs = TextDedup.ngramJaccard(d).as[(Long, Long, Long, Long, Long, Double)].collect()
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined, "near-dup pair (1,2) must survive LSH")
    assert(p12.get._6 > 0.5)
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    // identical docs -> jaccard 1.0
    val ident = TextDedup.ngramJaccard(docs((1L, "a b c d e"), (2L, "a b c d e")))
      .select($"jaccard").as[Double].collect()
    assert(ident.toSeq === Seq(1.0))
  }

  test("near-dup clusters: transitive closure over LSH pairs, singletons self-cluster") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely different text with no overlap at all whatsoever"))
    val out = TextDedup.nearDupClusters(d)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // 1~2 and 2~3 share buckets -> one cluster labeled by min id 1
    assert(out(1L) === (1L, false))
    assert(out(2L) === (1L, true))
    assert(out(3L) === (1L, true))
    assert(out(4L) === (4L, false))
  }

  test("incremental dedup: prior-index probes + founder rule, total, priority order") {
    // texts A~B, C~D verified to share LSH bands (band keys are pure
    // functions of text, precomputed with the same md5 math)
    val A = "the quick brown fox jumps over the lazy dog today"
    val B = "the quick brown fox jumps over the lazy dog tonight"
    val C = "sphinx of black quartz judge my vow this fine morning"
    val D = "sphinx of black quartz judge my vow this fine evening"
    val G = "completely different words entirely unrelated to anything else written"
    val prior = docs((1L, A), (2L, "some prior unique corpus text that nothing matches at all"))
    val incoming = docs(
      (100L, A), // exact text hit against the prior index
      (101L, B), // shares a band with prior A, not exact
      (102L, C), // founder of the C/D batch pair
      (103L, D), // shares a band with EARLIER batch doc 102 only
      (104L, C), // identical to earlier 102 (exact beats near in priority)
      (105L, G), // clean
      (106L, A)) // exact_prior wins over exact_batch-vs-100
    val priorIdx = TextDedup.signatureIndex(prior)
    val out = TextDedup.dedupIncremental(incoming, priorIdx)
      .as[(Long, Boolean, String)].collect()
    val reasons = out.map(r => r._1 -> r._3).toMap
    assert(reasons === Map(
      100L -> "exact_prior", 101L -> "near_prior", 102L -> "kept",
      103L -> "near_batch", 104L -> "exact_batch", 105L -> "kept",
      106L -> "exact_prior"))
    assert(out.forall(r => r._2 === (r._3 == "kept")))
    // cross-check against a locally recomputed reference over the two
    // signature indexes — pins the semantics independent of fixture luck
    val pi = priorIdx.as[(Long, String, String)].collect()
    val ni = TextDedup.signatureIndex(incoming).as[(Long, String, String)].collect()
    val priorKeys = pi.map(r => (r._2, r._3)).toSet
    def expected(id: Long): String = {
      val mine = ni.filter(_._1 == id)
      def hitsPrior(kind: Long => Boolean) = // kind: true for exact rows
        mine.exists(e => kind(if (e._2 == "exact") 1L else 0L) &&
          priorKeys((e._2, e._3)))
      def hitsEarlier(kind: Long => Boolean) =
        mine.exists(e => kind(if (e._2 == "exact") 1L else 0L) &&
          ni.exists(o => o._1 < id && o._2 == e._2 && o._3 == e._3))
      if (hitsPrior(_ == 1L)) "exact_prior"
      else if (hitsEarlier(_ == 1L)) "exact_batch"
      else if (hitsPrior(_ == 0L)) "near_prior"
      else if (hitsEarlier(_ == 0L)) "near_batch"
      else "kept"
    }
    reasons.foreach { case (id, r) => assert(r === expected(id), s"doc $id") }
  }

  test("decontamination: shared-shingle counts against a benchmark corpus") {
    val corpus = docs(
      (1L, "alpha beta gamma delta epsilon"), // contains the benchmark run
      (2L, "zeta eta theta iota kappa"),      // clean
      (3L, "tiny"))                           // no shingles at all
    val bench = docs((100L, "beta gamma delta"))
    val out = TextDedup.decontaminate(corpus, bench)
      .select($"doc_id", $"contaminated_cnt", $"shingle_cnt", $"contamination",
        $"is_contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 1L) // "beta gamma delta" is doc 1's one shared shingle
    assert(out(1L)._3 === 3L)
    assert(out(1L)._5 === true)
    assert(out(2L)._2 === 0L && out(2L)._5 === false)
    assert(out(3L)._3 === 0L && out(3L)._4 === 0.0)
  }

  test("keep-set curation: first failing filter wins, clean docs survive") {
    val corpus = docs(
      (1L, "a quick brown fox jumps over the lazy dog and then this dog sleeps near a warm fire tonight"),
      (2L, "a quick brown fox jumps over the lazy dog and then this dog sleeps near a warm fire tonight"), // exact dup of 1
      (3L, "der hund und die katze sind nicht das gleiche tier aber sie wohnen zusammen in einem haus"), // German
      (4L, "the the the the the the the the the the the the the the the the the the the the"), // repetition (lang stays en)
      (5L, "the and"))                                                     // too short -> quality (stopwords keep lang en)
    val bench = docs((100L, "nothing shared with this corpus at all"))
    val out = Curation.keepSet(corpus, bench)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (true, "kept"))
    assert(out(2L) === (false, "exact_dup"))
    assert(out(3L) === (false, "lang"))
    assert(out(4L) === (false, "repetition"))
    assert(out(5L) === (false, "quality"))
  }

  test("docs under 3 words produce no shingles (SQL generate_series parity)") {
    // Spark's sequence(1, 0) is the DESCENDING [1, 0]; ungated it emits
    // degenerate shingles for 1-2 word docs where the SQL oracle emits none
    val d = docs((1L, "two words"), (2L, "one"), (3L, "three word doc"))
    val sh = TextDedup.shingles(d).as[(Long, String)].collect()
    assert(sh.toSeq === Seq((3L, "three word doc")))
  }

  test("simhash: identical docs share fingerprints, disjoint docs differ") {
    val d = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota"))
    val out = TextDedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(out(1L) === out(2L))
    assert(out(1L) !== out(3L))
  }

  test("ANN via LSH buckets: useful recall at a fraction of the cross join") {
    // these synthetic embeddings are near-random (median top-1 cosine
    // ~0.36) — the WORST case for hyperplane LSH; clustered real data
    // recalls far higher at the same parameters.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val brute = Similarity.knnBrute(emb, k = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val ann = Similarity.annTopK(emb, k = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val recall = brute.count { case (v, c) => ann.get(v).contains(c) }.toDouble / brute.size
    assert(recall > 0.25, s"top-1 recall $recall")
    // pruning: candidate pairs examined must stay well under the cross join
    val sigs = Similarity.lshSignatures(emb)
    val candPairs = sigs.as("x").join(sigs.as("y"), Seq("t", "sig"))
      .filter($"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id", $"y.vec_id").distinct().count()
    assert(candPairs < n * n / 3, s"LSH examined $candPairs of ${n * n} pairs")
  }

  test("IVF probes: assignment is the nearest centroid, topk agrees with brute in probed cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = Similarity.ivfProbes(emb, nlist = 8, nprobe = 3)
    // every vector gets exactly nprobe probes, rank 1..nprobe, descending cosine
    val byVec = probes.select($"vec_id", $"probe_rank", $"cosine")
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    assert(byVec.forall(_._2.length == 3))
    byVec.values.foreach { ps =>
      val sorted = ps.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1, 2, 3))
      assert(sorted.map(-_._3).toSeq == sorted.map(-_._3).toSeq.sorted)
    }
    // a centroid vector is assigned to its own cell at cosine 1.0
    val self = probes.filter($"probe_rank" === 1 && $"vec_id" === $"cell")
      .select($"cosine").as[Double].collect()
    assert(self.nonEmpty && self.forall(_ == 1.0))
    // ivf top-1 within probed cells matches brute top-1 when brute's
    // winner lives in a probed cell
    val topk = Similarity.ivfTopK(emb, k = 1, nlist = 8, nprobe = 8) // probe all -> exhaustive
    val brute = Similarity.knnBrute(emb, k = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = topk.select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    assert(brute == ivf, "nprobe = nlist must equal brute force")
  }

  /** The SQL-expression formulation of the probe projection (literal
    * centroid structs + codegen'd dot kernel + an interpreted-HOF
    * transform/sort/slice): the REFERENCE implementation — it is exactly
    * the math the DuckDB ivf_probes CTE spells, so the parity test below
    * (inline == broadcast) is what licenses the faster mapPartitions path
    * to carry the oracled queries. Not used in production (see
    * `Similarity.ivfProbesWith` for the measurement). */
  private def ivfProbesInline(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])], nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = centroids.map { case (id, v) =>
      val nrm = math.sqrt(v.foldLeft(0d)((acc, x) => acc + x * x))
      val arr = v.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
      s"named_struct('cell', ${id}L, 'cnrm', ${java.lang.Double.toString(nrm)}D, 'cv', array($arr))"
    }.mkString("array(", ", ", ")")
    val probes =
      s"""slice(array_sort(transform($cents, c -> named_struct(
         |  'ncos', -round(graft_dot_fd(embedding, c.cv) / (nrm * c.cnrm), 6),
         |  'cell', c.cell))), 1, $nprobe)""".stripMargin
    embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_norm_f(embedding)"))
      .select(col("vec_id"), posexplode(expr(probes)))
      .select(col("vec_id"), col("col.cell").as("cell"),
        (col("col.ncos") * -1d).as("cosine"), (col("pos") + 1).as("probe_rank"))
  }

  test("IVF broadcast probe path is row-identical to the inlined projection") {
    // the production path is the broadcast-matrix mapPartitions pass; the
    // literal-inlined SQL projection is the oracle-shaped REFERENCE
    // implementation (it is the math the DuckDB CTE spells) — the same
    // centroid set must give byte-equal probes (same folds, rounding, tie
    // order), which is what licenses the fast path to carry the oracles
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.select($"vec_id", $"embedding").orderBy($"vec_id").limit(12)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toIndexedSeq
    val inline = ivfProbesInline(emb, cents, 3)
      .collect().map(_.toSeq).toSet
    val bcast = Similarity.ivfProbesBroadcast(emb, cents, 3)
      .collect().map(_.toSeq).toSet
    assert(inline.nonEmpty && inline === bcast)

    // corrupt rows (NULL embedding / ragged width / NULL element) must
    // DEGRADE — dropped from the broadcast path's output, clean rows
    // untouched — not NPE the encoder or fold a partial-prefix dot
    // (matches the inlined path, where graft_dot_fd nulls the cosine)
    val corrupt = spark.sql(
      """SELECT 9001L AS vec_id, cast(null as array<float>) AS embedding
        |UNION ALL SELECT 9002L, array(cast(1 as float), cast(2 as float))
        |UNION ALL SELECT 9003L, transform(sequence(0, 63),
        |  i -> IF(i = 3, cast(null as float), cast(i as float)))""".stripMargin)
    val withCorrupt = emb.select($"vec_id", $"embedding").unionByName(corrupt)
    val bcastCorrupt = Similarity.ivfProbesBroadcast(withCorrupt, cents, 3)
      .collect()
    assert(bcastCorrupt.map(_.toSeq).toSet === bcast)
    assert(!bcastCorrupt.exists(r => r.getLong(0) >= 9001L))

    // an array<double> corpus (the int8 roundtrip shape) takes the
    // lossless double branch — byte-equal to the inline form, whose dot
    // kernel dispatches dotDD on the same types
    val dd = emb.select($"vec_id",
      $"embedding".cast("array<double>").as("embedding"))
    val inlineD = ivfProbesInline(dd, cents, 3)
      .collect().map(_.toSeq).toSet
    val bcastD = Similarity.ivfProbesBroadcast(dd, cents, 3)
      .collect().map(_.toSeq).toSet
    assert(inlineD.nonEmpty && inlineD === bcastD)

    // the deterministic entry point (centroid fetch included) must also
    // take array<double> corpora — the quantize roundtrip is one
    assert(Similarity.ivfProbes(dd, nlist = 4, nprobe = 2).count() > 0)

    // a zero-norm ROW has no cosine to any cell (0/0 — the inline path
    // raises DIVIDE_BY_ZERO under ANSI mode, BigDecimal.valueOf(NaN)
    // would throw in the loop): corrupt, DROPPED like NULL/ragged rows
    val withZeroRow = emb.select($"vec_id", $"embedding").unionByName(
      spark.sql("SELECT 9100L AS vec_id, transform(sequence(0, 63), i -> cast(0 as float)) AS embedding"))
    val bcastZ = Similarity.ivfProbesBroadcast(withZeroRow, cents, 3)
      .collect().map(_.toSeq).toSet
    assert(bcastZ === bcast) // zero-norm row dropped, clean rows untouched

    // a zero-norm CENTROID can score no row: the cell is skipped entirely
    // (never probed), leaving every other assignment unchanged
    val withZeroCent = cents :+ (9999L, Array.fill(64)(0.0))
    val bcastZC = Similarity.ivfProbesBroadcast(emb, withZeroCent, 3)
      .collect().map(_.toSeq).toSet
    assert(bcastZC === bcast && bcastZC.nonEmpty)
  }

  test("ivfProbes centroid fetch degrades corrupt rows instead of crashing") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val clean = Similarity.ivfProbes(emb, nlist = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    // corrupt rows that sort FIRST in the centroid window (NULL vec_id
    // orders before everything; negative ids before the corpus) — exactly
    // where they would have NPE'd the driver-side fetch without the
    // filter; the probe scan itself already drops them (parity test above)
    val corrupt = spark.sql(
      """SELECT cast(null as bigint) AS vec_id,
        |       transform(sequence(0, 63), i -> cast(i as float)) AS embedding
        |UNION ALL SELECT -1L, cast(null as array<float>)
        |UNION ALL SELECT -2L, transform(sequence(0, 63),
        |  i -> IF(i = 3, cast(null as float), cast(i as float)))""".stripMargin)
    val probes = Similarity.ivfProbes(emb.unionByName(corrupt), nlist = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(probes === clean && probes.nonEmpty)
  }

  test("autoNprobe holds the probed fraction as nlist grows, capped at 128") {
    import graft.ops.Similarity.{autoNprobe, autoNlist}
    assert(autoNprobe(16) === 8)     // the calibrated operating point
    assert(autoNprobe(22) === 11)    // sf0.01: nlist 22 -> fraction held
    assert(autoNprobe(44) === 22)    // sf0.1
    assert(autoNprobe(223) === 112)  // ~50k vectors, still under the cap
    assert(autoNprobe(1000) === 128) // past the cap: graceful recall trade
    assert(autoNprobe(1) === 4)      // floor
    // the default (nprobe = 0) resolves through the rule: one probe row
    // per (vector, rank 1..autoNprobe(nlist))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val probes = Similarity.ivfProbes(emb)
    val expected = autoNprobe(autoNlist(n))
    assert(probes.count() === n * expected)
    assert(probes.agg(max($"probe_rank")).as[Int].head() === expected)
  }

  test("empty embeddings frame: index entry points return empty, not NPE") {
    val empty = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(lit(false))
    assert(Similarity.knnBrute(empty).count() === 0)
    assert(Similarity.annCandidates(empty).count() === 0)
    assert(Similarity.ivfTopK(empty).count() === 0)
  }

  test("IVF over KMeans-trained centroids: valid probes, covers all vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = Similarity.ivfProbesTrained(emb, nlist = 8, nprobe = 2)
    val byVec = probes.select($"vec_id", $"probe_rank", $"cell")
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    assert(byVec.size === emb.count())
    assert(byVec.values.forall(ps => ps.map(_._2).sorted.toSeq == Seq(1, 2)))
    assert(probes.select($"cell").distinct().count() > 1) // non-degenerate cells
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val nd = Similarity.embedNearDups(emb, minCosine = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(nd.nonEmpty)
    assert(nd.forall(p => p._1 < p._2 && p._3 >= 0.3))
    assert(nd.map(p => (p._1, p._2)).distinct.length == nd.length)
  }

  test("ANN hot-bucket cap prunes candidates, keeps small-bucket pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val unc = Similarity.annTopK(emb, k = 1).count()
    val capped = Similarity.annTopK(emb, k = 1, maxBucket = Some(10))
    // still produces results for vectors living in small buckets, and every
    // emitted pair is rank-consistent
    assert(capped.count() > 0 && capped.count() <= unc)
    assert(capped.filter($"rank" =!= 1).count() === 0)
  }

  test("first-shared-table pair emission equals the distinct formulation, capped and uncapped") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // naive reference: join capped sigs on (t, sig), distinct unordered pairs
    def naive(maxBucket: Option[Int]): Set[(Long, Long)] = {
      val sigs = Valves.capGroups(Similarity.lshSignatures(emb), Seq("t", "sig"), maxBucket)
      sigs.as("x").join(sigs.as("y"), Seq("t", "sig"))
        .filter(c("x.vec_id") < c("y.vec_id"))
        .select(c("x.vec_id"), c("y.vec_id")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    def firstShared(maxBucket: Option[Int]): Seq[(Long, Long)] =
      Similarity.annCandidates(emb, maxBucket = maxBucket)
        .as[(Long, Long)].collect().toSeq
    // uncapped: identical pair SET, each pair exactly once
    val fs = firstShared(None)
    assert(fs.toSet === naive(None) && fs.distinct.length === fs.length)
    // with a cap small enough to FIRE (exercises the nulled positional
    // slots): still set-identical to the capped distinct formulation
    val fsCap = firstShared(Some(8))
    assert(fsCap.toSet === naive(Some(8)) && fsCap.distinct.length === fsCap.length)
    assert(fsCap.toSet.size < fs.toSet.size, "cap=8 must actually prune here")
  }

  test("LSH recall on CLUSTERED embeddings is high (near-random corpus is the worst case)") {
    // planted clusters: 40 centers x 10 members, member = center + small
    // noise -> within-cluster cosine >> cross-cluster. The regime real
    // embedding corpora live in, vs the near-random synthetic testdata.
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(40)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = for {
      ci <- centers.indices
      m <- 0 until 10
    } yield {
      // noise 0.05/dim over 64 dims -> noise norm^2 ~ 0.16 vs the unit
      // center: within-cluster cosine ~ 0.86, cross-cluster ~ 0 (0.25/dim
      // would make the noise norm 2x the center — near-random again)
      val v = unit(centers(ci).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      (ci * 10L + m, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val brute = Similarity.knnBrute(emb, k = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val ann = Similarity.annTopK(emb, k = 1)
      .select($"vec_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val recall = brute.count { case (v, nn) => ann.get(v).contains(nn) }.toDouble / brute.size
    assert(recall > 0.85, s"clustered-corpus top-1 recall $recall")
  }

  test("simhash banded hamming join finds EXACTLY the hamming<=3 pairs (lossless)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = TextDedup.simhash(d).localCheckpoint()
    val brute = sh.as("x").crossJoin(sh.as("y"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id",
        expr("cast(bit_count(x.simhash ^ y.simhash) as int)").as("h"))
      .filter($"h" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    val banded = TextDedup.simhashNearDups(d, simhashDf = Some(sh))
      .as[(Long, Long, Int)].collect().toSet
    assert(banded === brute, "4x8-bit banding must be lossless for hamming <= 3")
    assert(banded.nonEmpty, "sf0.001 corpus should contain simhash near-dups")
  }

  test("LSH hot-bucket cap drops only pairs from oversized buckets") {
    // doc texts 1-3 identical -> same buckets everywhere (bucket size 3);
    // docs 4-5 identical -> bucket size 2. cap=2 must keep (4,5), drop 1-3 pairs.
    val d = docs(
      (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"), (3L, "aa bb cc dd ee"),
      (4L, "xx yy zz ww vv"), (5L, "xx yy zz ww vv"))
    val unc = TextDedup.lshPairs(d).as[(Long, Long)].collect().toSet
    assert(unc.contains((1L, 2L)) && unc.contains((4L, 5L)))
    val capped = TextDedup.lshPairs(d, maxBucket = Some(2)).as[(Long, Long)].collect().toSet
    assert(capped === Set((4L, 5L)))
  }

  test("token counts and fingerprints are deterministic and sane") {
    val d = docs((1L, "one two three"), (2L, "one two three"))
    val tc = TextAnalysis.tokenCounts(d).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(tc(1L) === (3L, 3L))
    val fp = TextAnalysis.fingerprints(d).as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) > 0L)
  }

  test("quality score rewards long clean text") {
    val d = docs((1L, Seq.fill(60)("steady").mkString(" ")), (2L, "!!! ??? ..."))
    val q = TextAnalysis.qualityScore(d)
      .select($"doc_id", $"quality").as[(Long, Double)].collect().toMap
    assert(q(1L) > q(2L))
  }

  test("media decode plumbing produces per-row features") {
    val d = docs((7L, "abcdef"))
    val f = Multimodal.decodeFeatures(Multimodal.mediaTable(d)).collect().head
    assert(f.doc_id === 7L)
    assert(f.n_bytes === 6L)
    assert(f.sum_bytes === "abcdef".map(_.toLong).sum)
  }

  test("repetition signals: looping text scores high, varied text low") {
    val d = docs(
      (1L, "spam spam spam spam spam spam"),       // one word repeated
      (2L, "a b c a b c a b c a b c"),             // repeated 3-grams
      (3L, "all words here are fully distinct ok")) // clean
    val out = TextAnalysis.repetition(d).as[(Long, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 === 1.0)
    assert(out(2L)._2 > 0.5)   // 10 3-grams, only 3 distinct
    assert(out(3L)._1 < 0.2 && out(3L)._2 === 0.0)
  }

  test("PII scrub counts and redacts emails, IPs, phone numbers") {
    val d = docs(
      (1L, "contact bob.smith@example.com or 192.168.0.1 or 555-123-4567 now"),
      (2L, "clean text with no pii at all"))
    val out = TextAnalysis.piiScrub(d).as[(Long, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 1L && out(1L)._3 === 1L && out(1L)._4 === 1L)
    assert(out(2L)._2 === 0L && out(2L)._3 === 0L && out(2L)._4 === 0L)
    // redaction hash differs from raw for the PII doc, equals raw for clean
    import org.apache.spark.sql.functions.md5
    val raw = d.select($"doc_id", md5($"text").as("h")).as[(Long, String)]
      .collect().toMap
    assert(out(1L)._5 !== raw(1L))
    assert(out(2L)._5 === raw(2L))
  }

  test("int8 quantization: codes bounded, extremes hit ±127, roundtrip tight") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 1.0f)),   // max|x| = 1.0
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),     // zero vector -> scale 0
      (3L, Array(-2.0f, 1.0f, 0.5f, -0.125f))) // max|x| = 2.0 (negative)
      .toDF("vec_id", "embedding")
    val q = Similarity.quantize(emb).as[(Long, Int, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(q((1L, 3)) === 127)   // +max maps to +127
    assert(q((3L, 0)) === -127)  // -max maps to -127
    assert((0 to 3).forall(d => q((2L, d)) === 0)) // zero vector -> zero codes
    assert(q.values.forall(c => c >= -127 && c <= 127))
    // roundtrip: every component within scale/2 of the original
    val rt = Similarity.quantizeRoundtrip(emb)
      .as[(Long, Array[Double])].collect().toMap
    val orig = emb.as[(Long, Array[Float])].collect().toMap
    for ((id, xs) <- orig) {
      val scale = xs.map(math.abs(_)).max / 127.0
      val back = rt(id)
      assert(xs.zip(back).forall { case (x, y) =>
        math.abs(x.toDouble - y) <= scale / 2 + 1e-12 })
    }
  }

  test("media resize and frame-sample plumbing: budgets, indices, checksums") {
    val text = Seq.fill(130)("abcd").mkString // 520 bytes -> 3 frames of 256
    val media = Multimodal.mediaTable(docs((9L, text)))
    val r = Multimodal.resize(media, targetW = 16, targetH = 16).collect().head
    assert(r.width === 16 && r.height === 16)
    assert(r.resized_bytes === math.min(520L, 16L * 16 / 8)) // 32-byte budget
    assert(r.checksum === text.take(32).map(_.toLong).sum)
    val frames = Multimodal.frameSample(media, frameBytes = 256, everyN = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2)) // frames 0,2 of 0..2
    assert(frames(0).frame_bytes === 256L)
    assert(frames(1).frame_bytes === 520L - 512L)
    assert(frames(1).checksum === text.drop(512).map(_.toLong).sum)
  }
}
