package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Similarity search over the `embeddings` table
  * (vec_id, embedding float[], label).
  *
  * Brute-force cosine top-k is the correctness baseline (quadratic —
  * fine at verification scale, explicitly NOT the scale path). The
  * random-hyperplane LSH variant is the scale path: signatures are a
  * linear scan, the quadratic join is confined to hash buckets. Both use
  * only codegen'd higher-order functions (zip_with/aggregate) — no UDFs.
  */
object Similarity {

  // codegen'd Catalyst expressions (bit-identical index-order folds, see
  // GraftFunctions.dotF/normF) — the aggregate(zip_with(...)) HOF chain
  // they replace is interpreted per element and breaks whole-stage
  // codegen on the million-pair verify hot path
  private def dot(a: String, b: String) = expr(s"graft_dot_f($a, $b)")
  private def norm(c: String) = expr(s"graft_norm_f($c)")
  private def reg(df: DataFrame): Unit =
    graft.functions.GraftFunctions.register(df.sparkSession)

  /** Spark's round(_, 6) on a double cosine: BigDecimal HALF_UP on finite
    * values, while NaN and infinities pass through as Spark's round passes
    * them (BigDecimal.valueOf would throw on them). The one rounding every
    * typed fold here and [[graft.streaming.StreamingNearDup.cosine6]] use,
    * so they stay value-identical to the SQL `round(..., 6)`. */
  private[graft] def round6(x: Double): Double =
    if (java.lang.Double.isFinite(x))
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    else x

  /** Index-order double folds — bit-identical to graft_norm_f / graft_dot_f
    * on the same (widened) elements. `dotOf` reads `a.length` elements. */
  private def normOf(v: Array[Double]): Double = {
    var acc = 0d; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }
  private def dotOf(a: Array[Double], b: Array[Double]): Double = {
    var d = 0d; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Spark SQL's double total order (SQLOrderingUtil.compareDoubles):
    * -0.0 == 0.0, NaN greater than everything and equal to itself. [[TopK]]
    * ranks with it, so every top-k fold orders NaN and signed-zero
    * cosines exactly like the row_number() window it replaces (NaN first
    * under `cosine DESC`). */
  @inline private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The bounded top-k insertion fold behind [[knnBrute]], [[topKRanked]]
    * and [[ivfTopKFrom]]: keeps the first `k` offers in (cosine desc under
    * [[cmpD]], id asc) order — row_number() semantics over that order, in
    * O(offers x k) with no sort buffer. */
  private final class TopK(k: Int) {
    private val cos = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var m = 0
    def offer(c: Double, id: Long): Unit = {
      var p = m
      while (p > 0 && { val o = cmpD(cos(p - 1), c)
        o < 0 || (o == 0 && ids(p - 1) > id) }) p -= 1
      if (p < k) {
        var q = math.min(m, k - 1)
        while (q > p) { cos(q) = cos(q - 1); ids(q) = ids(q - 1); q -= 1 }
        cos(p) = c; ids(p) = id
        if (m < k) m += 1
      }
    }
    /** (vid, id, cosine, rank) rows, ranks 1..m. */
    def ranked(vid: Long): Iterator[(Long, Long, Double, Int)] =
      Iterator.tabulate(m)(r => (vid, ids(r), cos(r), r + 1))
  }

  /** Brute-force cosine top-k: (vec_id, neighbor_id, cosine, rank).
    *
    * STILL the deliberately quadratic correctness baseline (O(n^2) dot
    * products — NOT the scale path; [[annTopK]]/[[ivfTopKTrained]] are),
    * but the round-6 shape removes everything except that quadratic core:
    * the corpus rides ONE executor broadcast (the same bytes the round-5
    * crossJoin's BroadcastNestedLoopJoin already shipped to every
    * executor) and each row folds its top-k in a [[TopK]] inside one
    * mapPartitions scan — no n^2-row join materialization, no window
    * shuffle, no O(n log n) per-group sort (guide §2.4: remove shuffles
    * outright; the window existed only to rank rows we then threw away).
    * Arithmetic is bit-identical to the crossJoin form: elements widen to
    * double once (an exact cast, = graft_dot_f / graft_norm_f), cosine
    * rounds via [[round6]], ranks order by (cosine desc, neighbor_id asc).
    * Corrupt rows (NULL id/embedding/element, a norm that is not > 0:
    * zero, or NaN from a NaN element) are dropped on both sides, as query
    * and as neighbor — the same degrade-don't-crash contract as
    * [[ivfProbesBroadcast]]; a ragged corpus still fails fast. */
  def knnBrute(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val raw = embeddings.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        !exists(col("embedding"), _.isNull))
    // one action: fetch + width-check + norm the corpus (doubles as the
    // fixed-width assertion the separate assertFixedWidth scan used to pay)
    val corpus = raw.as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v, normOf(v)) }
    if (corpus.isEmpty)
      return embeddings.select(col("vec_id"), lit(0L).as("neighbor_id"),
        lit(0d).as("cosine"), lit(0).as("rank")).where(lit(false))
    val dims = corpus(0)._2.length
    require(corpus.forall(_._2.length == dims),
      s"embeddings must be fixed-width: saw sizes " +
        s"${corpus.map(_._2.length).min}..${corpus.map(_._2.length).max}")
    val bc = spark.sparkContext.broadcast(corpus.filter(_._3 > 0d))
    raw.filter(size(col("embedding")) === lit(dims))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (vid, emb) =>
          val nrm = normOf(emb)
          if (!(nrm > 0d)) Iterator.empty
          else {
            val top = new TopK(k)
            var c = 0
            while (c < cs.length) {
              val (nid, cv, cnrm) = cs(c)
              if (nid != vid) top.offer(round6(dotOf(emb, cv) / (nrm * cnrm)), nid)
              c += 1
            }
            top.ranked(vid)
          }
        }
      }.toDF("vec_id", "neighbor_id", "cosine", "rank")
  }

  /** ceil(log2(n)) via leading zeros — exact at powers of two (no FP). */
  private def ceilLog2(n: Long): Int =
    if (n <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)

  /** Data-dependent plane count: ceil(log2 n) - 4, floored at 4, CAPPED at
    * 16 — keeps the EXPECTED bucket size ~2^4 = 16 vectors up to n ~ 1M
    * (a fixed plane count means buckets — and the quadratic step — grow
    * linearly with the corpus, the round-3 scale-killer). Beyond the cap
    * the per-row signing work stays bounded (tables x 16 x dims
    * multiply-adds) and the hot-bucket valve
    * [[defaultMaxBucket]] carries the quadratic bound instead: bucket
    * sizes grow but over-cap buckets are dropped per table, their members
    * still covered by the other tables — graceful recall degradation, not
    * unbounded work. Past that regime the recommended index is
    * [[ivfTopKTrained]] (cells keep scaling as sqrt n). */
  def autoPlanes(n: Long): Int = math.min(16, math.max(4, ceilLog2(n) - 4))

  /** Single-plane collision probability for the corpus' typical top-k
    * neighbor (cosine ~0.4 -> theta ~66deg -> 1 - theta/pi ~0.63 on this
    * near-random synthetic set; calibrate per corpus). Each added plane
    * multiplies per-table recall by this, so tables scale by its inverse
    * to HOLD recall while planes track log2(n). */
  val planeCollisionP = 0.63

  /** Tables needed to keep multi-table recall roughly constant relative to
    * the calibrated 12-tables-at-5-planes operating point, CAPPED at 64:
    * recall-holding table growth is exponential in added planes, so past
    * the cap the operator trades recall instead of per-row work and
    * bucket-row volume (each table adds planes x dims multiply-adds per
    * row plus one exploded bucket row; uncapped it reaches thousands of
    * tables at 10^6+ vectors — the work bound has to come from the cap,
    * with [[ivfTopKTrained]] as the designated handoff past it). */
  def autoTables(planes: Int): Int =
    math.min(64,
      math.ceil(12.0 * math.pow(1.0 / planeCollisionP, (planes - 5).toDouble)).toInt)

  /** All-tables signature vector as ONE loop-codegen'd column expression
    * over the embedding array ([[graft.functions.LshSigsExpr]]): the
    * md5-parity ±1 weights — identical to the oracle's plane_weights CTE,
    * `('0x' || substr(md5(t || ':' || p || ':' || d), 1, 8))::BIGINT % 2`
    * — ride the plan as a reference object, never as literals, so the
    * generated code is a fixed-size loop at ANY (tables, planes, dims).
    * Signing stays a pure per-row projection (no dim explode, no weights
    * join, no aggregate shuffle), and — unlike the unrolled per-table
    * CASE chains this replaces — it stays inside whole-stage codegen at
    * large-corpus auto params: the unrolled form inlined tables x planes
    * x dims literal doubles into one generated method and tripped
    * janino's limits at ~64 tables (measured: the recall-vs-n n=50000
    * point compiled a >10k-line method, failed, and silently ran the
    * whole index build interpreted). Shared by the batch index and the
    * streaming near-dup path (stateless per-row => directly streamable,
    * bit-identical to batch: same kernel, same index-order fold). */
  def sigsColumn(tables: Int, planes: Int, dims: Int,
      embCol: String = "embedding"): Column =
    expr(s"graft_lsh_sigs($embCol, $tables, $planes, $dims)")

  /** (tables, planes, dims) resolved against the data in ONE aggregate
    * action: 0 = auto (planes ~ log2 n, tables holding recall at the
    * calibrated point). Also fails fast on ragged corpora — every cosine
    * kernel here assumes fixed-width embeddings, and a silent
    * partial-prefix dot is a wrong neighbor, not an error. */
  private def resolveParams(embeddings: DataFrame, tables: Int, planes: Int): (Int, Int, Int) = {
    val r = embeddings.agg(max(size(col("embedding"))),
      min(size(col("embedding"))), count(lit(1))).collect()(0)
    val n = r.getLong(2)
    // empty corpus: min/max are NULL — any params yield an empty result,
    // so skip the width check instead of NPE-ing on the NULL aggregate
    val dims = if (n == 0) 0 else r.getInt(0)
    if (n > 0) require(r.getInt(1) == dims,
      s"embeddings must be fixed-width: saw sizes ${r.getInt(1)}..$dims")
    val p = if (planes > 0) planes else autoPlanes(n)
    val t = if (tables > 0) tables else autoTables(p)
    (t, p, dims)
  }

  /** Multi-table LSH signatures: (vec_id, t, sig) — one sign-pattern
    * bucket per hash table; more tables = higher recall, standard
    * random-hyperplane LSH. `tables`/`planes` = 0 (the default) resolve
    * from the corpus size ([[autoPlanes]]/[[autoTables]]). */
  def lshSignatures(embeddings: DataFrame, tables: Int = 0, planes: Int = 0): DataFrame = {
    reg(embeddings) // sigsColumn resolves graft_lsh_sigs at analysis time
    val (nt, np, dims) = resolveParams(embeddings, tables, planes)
    lshSignaturesResolved(embeddings, nt, np, dims)
  }

  private def lshSignaturesResolved(embeddings: DataFrame, nt: Int, np: Int,
      dims: Int): DataFrame = {
    if (dims == 0) // empty corpus (resolveParams found no rows): keep schema
      return embeddings.select(col("vec_id"), lit(0L).as("t"),
        lit(0L).as("sig")).where(lit(false))
    embeddings
      .select(col("vec_id"),
        posexplode(sigsColumn(nt, np, dims)).as(Seq("t", "sig")))
      .select(col("vec_id"), col("t").cast("long").as("t"), col("sig"))
  }

  /** Drop (t, sig) buckets holding more than `cap` vectors — the
    * hot-bucket valve for sign-pattern LSH (e.g. the all-positive bucket
    * on non-centered data); the other tables still cover its members. */
  private def capBuckets(sigs: DataFrame, cap: Option[Int]): DataFrame =
    Valves.capGroups(sigs, Seq("t", "sig"), cap)

  /** Default hot-bucket cap — ON in the production path: with auto planes
    * the EXPECTED bucket is ~16, so 200 only fires on pathological sign
    * buckets (it bounds the quadratic verify at 200^2 per bucket without
    * touching healthy ones; the oracle mirrors it with a HAVING filter). */
  val defaultMaxBucket: Option[Int] = Some(200)

  /** The shared LSH candidate stage: unordered near-pairs (a < b), each
    * emitted EXACTLY ONCE — from the first (lowest-t) surviving shared
    * bucket — instead of once per colliding table + a distinct(): the
    * per-vec surviving (t, sig) entries ride along as a small array and a
    * codegen'd positional zip keeps a pair only at its minimal shared
    * table, so the duplicate rows die before the verify shuffle rather
    * than being re-keyed by distinct(). The emitted pair SET equals the
    * distinct() formulation's (same shared-surviving-bucket relation).
    * Inject via `candDf` into [[annTopK]] / [[embedNearDups]] (the
    * Queries memoizer does) so the signature index is built once per
    * process, like a pipelined run that checkpoints its index. */
  def annCandidates(embeddings: DataFrame, tables: Int = 0, planes: Int = 0,
      maxBucket: Option[Int] = defaultMaxBucket): DataFrame = {
    reg(embeddings) // sigsColumn resolves graft_lsh_sigs at analysis time
    val (nt, np, dims) = resolveParams(embeddings, tables, planes)
    // materialize the exploded signatures once: the hot-bucket valve
    // (groupBy + semi-join back) scans its input TWICE, and without the
    // checkpoint each scan re-ran the whole signing projection (round 6,
    // guide §2.4 — n x tables skinny rows, cheap to pin)
    val sigs0 = lshSignaturesResolved(embeddings, nt, np, dims).localCheckpoint()
    val sigs = capBuckets(sigs0, maxBucket)
    // positional per-vec signature vector, capped-away slots nulled; eager
    // checkpoint both computes the heavy literal-weights expression once
    // and keeps it out of the self-join's two optimizer branches
    val arr = sigs.groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("t"), col("sig")))).as("m"))
      .select(col("vec_id"),
        expr(s"transform(sequence(0L, ${nt - 1}L), i -> m[i])").as("sa"))
      .localCheckpoint()
    val exploded = arr
      .select(col("vec_id"), col("sa"), posexplode(col("sa")).as(Seq("t", "sig")))
      .filter(col("sig").isNotNull)
    exploded.as("x")
      .join(exploded.as("y"), Seq("t", "sig"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      // keep the pair only at its FIRST surviving shared table — the
      // codegen'd graft_first_shared loop (round 6): the positional
      // zip_with/array_position HOF chain it replaces is a CodegenFallback
      // island whose lambdas run interpreted per ELEMENT on every joined
      // row, measured as the dominant cost of this stage once the join
      // itself was cheap (same rule, same -1/-no-match semantics)
      .filter(expr("graft_first_shared(x.sa, y.sa) = t"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
  }

  /** Rank (vec_id, neighbor_id, cosine) rows to their per-vec top-k with a
    * bounded insertion fold instead of a row_number() window (round 6,
    * guide §2.4): the window plan capped rows map-side (a partial
    * WindowGroupLimit before its exchange, about k rows per vec per map
    * partition) and then sorted each whole partition to rank them; the
    * fold keeps only k per group in O(rows x k) with no sort buffer. The
    * gain is the removed per-partition sorts, not shuffle volume: the fold
    * has no map-side cap and also shuffles its 8-byte grouping key, so it
    * can move more bytes than the window did. Identical output: the
    * [[TopK]] fold keeps the window's (cosine desc, neighbor_id asc) order
    * under Spark's own double total order and its row_number semantics
    * (ranks 1..k, ties broken by neighbor asc). Precondition: `cosine` is
    * non-null — the typed decode throws on a null, where the window
    * ordered it NULLS LAST (no caller can produce one: 0/0 gives NaN, not
    * null). Pinned against the window formulation in RewriteParitySpec. */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("vec_id"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (vid, it) =>
        val top = new TopK(k)
        it.foreach { case (_, nid, cos) => top.offer(cos, nid) }
        top.ranked(vid)
      }
      .toDF("vec_id", "neighbor_id", "cosine", "rank")
  }

  /** ANN top-k via multi-table LSH buckets: candidate pairs share a bucket
    * in ANY table; quadratic work confined to buckets (bounded ~16 expected
    * by the auto plane count + the default hot-bucket cap). */
  def annTopK(embeddings: DataFrame, k: Int = 5, tables: Int = 0, planes: Int = 0,
      maxBucket: Option[Int] = defaultMaxBucket,
      candDf: Option[DataFrame] = None): DataFrame = {
    reg(embeddings)
    val ordered = candDf.getOrElse(annCandidates(embeddings, tables, planes, maxBucket))
    // a zero- or NaN-norm row has no cosine: dropped before the pair join,
    // as knnBrute and the IVF probes drop it (Spark orders NaN above every
    // double, so `nrm > 0` alone would keep it)
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm("embedding"))
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
    // score each UNORDERED candidate pair once, then mirror the scored row
    // (round 6, guide §2.3): cosine is exactly symmetric — the dot
    // kernel's per-element multiply commutes and the index-order sum is
    // identical both ways — so the round-5 shape (union both directions
    // FIRST, then attach embeddings and compute the dot per direction)
    // ran every verify dot and both embedding joins twice for the same
    // value. The mirrored row set equals the old union's exactly. The
    // mirrored rows then fold straight into their per-vec top-k
    // ([[topKRanked]]) instead of sorting through a rank window.
    topKRanked(ordered
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("nrm").as("na")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "b")
      .withColumn("cosine", round(dot("ea", "eb") / (col("na") * col("nb")), 6))
      .select(explode(array(
        struct(col("a").as("vec_id"), col("b").as("neighbor_id"), col("cosine")),
        struct(col("b").as("vec_id"), col("a").as("neighbor_id"), col("cosine"))))
        .as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.neighbor_id").as("neighbor_id"),
        col("p.cosine").as("cosine")), k)
  }

  /** Embedding-cosine near-duplicate pairs: (a, b, cosine) with a < b and
    * cosine >= `minCosine`, candidates confined to multi-table LSH buckets
    * (same index as [[annTopK]]) — the dedup-flavoured use of the ANN
    * index: one linear signature scan + bucket-bounded verification, never
    * the all-pairs cross join. */
  def embedNearDups(embeddings: DataFrame, minCosine: Double = 0.3,
      tables: Int = 0, planes: Int = 0,
      maxBucket: Option[Int] = defaultMaxBucket,
      candDf: Option[DataFrame] = None): DataFrame = {
    reg(embeddings)
    val cand = candDf.getOrElse(
      annCandidates(embeddings, tables, planes, maxBucket))
    // a zero- or NaN-norm row has no cosine: dropped, as in annTopK
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm("embedding"))
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
    cand
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb")), "b")
      .withColumn("cosine", round(dot("ea", "eb") / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** IVF coarse index, probe assignment as a pure per-row projection.
    *
    * Centroids are the `nlist` lowest-vec_id embeddings — a deterministic,
    * oracle-reproducible stand-in for trained k-means centroids (swap in
    * MLlib KMeans at production; the plan shape is identical). They are
    * fetched with a TakeOrderedAndProject (no global sort) and inlined as
    * a literal array, so cell assignment + probe ranking is ONE
    * shuffle-free codegen'd projection per row — the 100-TB shape: no
    * N x nlist row expansion, no window shuffle.
    *
    * Returns (vec_id, cell, cosine, probe_rank) for probe_rank <= nprobe;
    * probe_rank = 1 is the cell the vector is assigned to. */
  /** Data-dependent cell count: ~sqrt(n), floored at 16 — cell sizes then
    * grow as sqrt(n) instead of n/const, so per-query candidate work is
    * nprobe * sqrt(n) (the standard IVF operating point; a FIXED nlist
    * makes cells — and the per-cell quadratic verify — linear in corpus
    * size). */
  def autoNlist(n: Long): Int =
    math.max(16, math.floor(math.sqrt(n.toDouble)).toInt)

  /** Probed fraction of the calibrated operating point: nlist = 16,
    * nprobe = 8 (the measured best recall/cost IVF point on the reference
    * synthetic corpus — recall@5 0.763 deterministic / best trained row).
    * [[autoNprobe]] HOLDS this fraction as nlist grows with sqrt(n) —
    * the IVF twin of [[autoTables]] holding LSH recall as planes grow:
    * without it the probed fraction (and recall with it) shrinks as the
    * corpus grows (measured 0.763 -> 0.48 when nlist went 16 -> 63 at a
    * fixed nprobe 8). On a NEAR-RANDOM corpus a constant fraction is the
    * price of constant recall (candidate work stays frac*n per query —
    * the intrinsic hardness, see BENCH.md); clustered real corpora hold
    * recall at much smaller fractions, which callers dial in via an
    * explicit nprobe. */
  val probeFraction = 0.5

  /** Recall-holding probe count: ceil(nlist * probeFraction), floored at
    * 4, CAPPED at 128 (the probe list is a per-row top-nprobe slice over
    * the centroid scores; past the cap the operator trades recall instead
    * of per-row slice width — the same graceful-degradation contract as
    * the [[autoTables]] 64-table cap, with the cap chosen so the fraction
    * holds to nlist = 256 ~ a 65k-vector corpus, beyond which
    * [[ivfProbesBroadcast]] carries the index anyway). */
  def autoNprobe(nlist: Int): Int =
    math.min(128, math.max(4, math.ceil(nlist * probeFraction).toInt))

  private def resolveNlist(embeddings: DataFrame, nlist: Int): Int = {
    // one combined aggregate action (width check + count) — not a separate
    // assertFixedWidth + count(), which would scan the corpus twice
    val r = embeddings.agg(min(size(col("embedding"))),
      max(size(col("embedding"))), count(lit(1))).collect()(0)
    if (r.getLong(2) > 0) require(r.getInt(0) == r.getInt(1),
      s"embeddings must be fixed-width: saw sizes ${r.getInt(0)}..${r.getInt(1)}")
    if (nlist > 0) nlist else autoNlist(r.getLong(2))
  }

  def ivfProbes(embeddings: DataFrame, nlist: Int = 0, nprobe: Int = 0): DataFrame = {
    val nl = resolveNlist(embeddings, nlist)
    val np = if (nprobe > 0) nprobe else autoNprobe(nl)
    val cents = embeddings.select(col("vec_id"), col("embedding"))
      // corrupt rows (NULL id, NULL embedding, a NULL element) must not
      // become centroids: orderBy sorts NULL ids FIRST, so one such row
      // would otherwise always land in the centroid window and NPE the
      // driver-side fetch — the same degrade-don't-crash contract as the
      // probe scan itself (ivfProbesBroadcast drops these rows)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        !exists(col("embedding"), _.isNull))
      .orderBy(col("vec_id")).limit(nl).collect()
      // boxed java.lang.Float OR java.lang.Double elements — the probe
      // path accepts array<double> corpora (quantize roundtrips), so the
      // centroid fetch must too
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toArray))
      .toIndexedSeq
    ivfProbesWith(embeddings, cents, np)
  }

  /** The probe projection over an explicit centroid set — shared by the
    * deterministic (oracled) and the KMeans-trained index. Always takes
    * the BROADCAST mapPartitions path ([[ivfProbesBroadcast]]): measured
    * at every centroid count it beats the literal-inlined SQL projection
    * 2-5x (sf0.1, min-of-2: nlist 16 0.26s vs 0.52s, 64 0.23s vs 0.73s,
    * 200 0.40s vs 1.94s, a one-off timing of the round-5 tree), because
    * the inline form scores cells through an interpreted higher-order
    * `transform` island while the broadcast form is a tight per-partition
    * loop; and at sqrt(n) cells a 10^6-vector corpus wants ~1000
    * centroids x 64 dims, where the inlined literals would also stall
    * planning. The SQL formulation lives on in test scope as
    * `OpsSpec.ivfProbesInline` — the oracle-shaped reference
    * implementation the DuckDB CTE mirrors — and OpsSpec pins both paths
    * row-identical on the same centroid set (the correctness bridge from
    * the CTE to the production path). */
  private[ops] def ivfProbesWith(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])], nprobe: Int): DataFrame = {
    if (centroids.isEmpty) // empty corpus: keep schema, emit nothing
      return embeddings.select(col("vec_id"), lit(0L).as("cell"),
        lit(0d).as("cosine"), lit(0).as("probe_rank")).where(lit(false))
    ivfProbesBroadcast(embeddings, centroids, nprobe)
  }

  /** The production probe assignment (every nlist — see [[ivfProbesWith]]
    * for the measurement): the centroid matrix rides an executor
    * broadcast and each partition scores its rows in a tight loop —
    * identical math to the inlined SQL reference (elements widened to
    * double once by an exact cast, index-order double folds, [[round6]],
    * ties broken by ascending cell), so the two paths are row-identical
    * ON CLEAN ROWS; only the physical plan differs. Shuffle-free and
    * one-scan: the standard Spark shape for a per-row reduction against a
    * large shared constant. Corrupt rows (NULL id/embedding, a NULL
    * element, a width different from the centroids', a zero-norm vector
    * — no cosine to anything) are DROPPED before the typed scan — the
    * degrade-don't-crash twin of the inlined path's NULL-dot semantics
    * (graft_dot_fd nulls the cosine there; here a NULL would NPE the
    * primitive-array encoder and a ragged row would otherwise get a
    * silently-wrong partial-prefix dot).
    *
    * The probe order is its own sort, not [[TopK]]: its reference key is
    * the inlined projection's `array_sort` on `ncos` = -cosine ascending,
    * under which a NaN cosine sorts LAST, while the neighbor windows'
    * `cosine DESC` (and so [[TopK]]) put NaN first. `(-cos, cell)`
    * ascending under Scala's total Double order is exactly that key. */
  private[ops] def ivfProbesBroadcast(embeddings: DataFrame,
      centroids: Seq[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dims = centroids.head._2.length
    // a zero-norm centroid cannot score any row by cosine (0/0) — skip
    // the cell entirely rather than divide by zero (under ANSI mode even
    // double division by zero raises)
    val cents = centroids.map { case (id, v) => (id, normOf(v), v) }
      .filter(_._2 > 0d).toArray
    val bc = spark.sparkContext.broadcast(cents)
    embeddings.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        !exists(col("embedding"), _.isNull) &&
        size(col("embedding")) === lit(dims))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (vid, emb) =>
          val nrm = normOf(emb)
          // a zero- or NaN-norm row has no cosine to any cell: corrupt,
          // dropped like the NULL/ragged rows (knnBrute's `norm > 0` rule)
          if (!(nrm > 0d)) Iterator.empty
          else cs.map { case (cell, cnrm, cv) =>
              (round6(dotOf(emb, cv) / (nrm * cnrm)), cell)
            }
            .sortBy { case (cos, cell) => (-cos, cell) }
            .take(nprobe).iterator.zipWithIndex
            .map { case ((cos, cell), idx) => (vid, cell, cos, idx + 1) }
        }
      }.toDF("vec_id", "cell", "cosine", "probe_rank")
  }

  /** IVF probes over KMeans-TRAINED coarse centroids (MLlib, fixed seed)
    * — the production-quality cell partition (balanced cells on clustered
    * corpora), same shuffle-free probe projection as [[ivfProbes]]. Not
    * SQL-oracle-reproducible (iterative training), so it is fixture-tested
    * instead; cell ids are the centroid indices. */
  def ivfProbesTrained(embeddings: DataFrame, nlist: Int = 0, nprobe: Int = 0,
      seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val nl = resolveNlist(embeddings, nlist)
    val np = if (nprobe > 0) nprobe else autoNprobe(nl)
    val feats = embeddings
      .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(nl).setSeed(seed).setMaxIter(10)
      .fit(feats)
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }.toSeq
    ivfProbesWith(embeddings, cents, np)
  }

  /** IVF-flat ANN top-k: candidates are vectors whose ASSIGNED cell is
    * among the query's `nprobe` nearest cells; quadratic work confined to
    * cells (shuffle key = cell, per-cell size bounded by the coarse
    * partition). The second scale path next to [[annTopK]] — better
    * recall/cost control on clustered corpora. */
  /** `queries`: optional (vec_id) frame restricting the QUERY side of the
    * top-k join (cell assignment still covers the whole corpus — every
    * vector can be a neighbor). The sampled-recall evaluation valve: at
    * large n, scoring a query sample instead of all n queries turns the
    * verify join from frac*n^2 into frac*n*|sample| without touching the
    * index itself. None (the default) scores every vector. */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, nlist: Int = 0, nprobe: Int = 0,
      queries: Option[DataFrame] = None): DataFrame =
    ivfTopKFrom(embeddings, ivfProbes(embeddings, nlist, nprobe), k, queries)

  /** IVF-flat top-k over KMEANS-TRAINED cells — the production default
    * index (balanced cells on clustered corpora), same plan shape as the
    * deterministic variant; benched side-by-side in Bench. */
  def ivfTopKTrained(embeddings: DataFrame, k: Int = 5, nlist: Int = 0,
      nprobe: Int = 0, seed: Long = 7L,
      queries: Option[DataFrame] = None): DataFrame =
    ivfTopKFrom(embeddings, ivfProbesTrained(embeddings, nlist, nprobe, seed), k,
      queries)

  /** The per-cell verify of the IVF index (round-6 shape, guide §2.3:
    * aggregate before you shuffle). The round-5 form JOINED query probes
    * with cell assignments into the full frac·n² candidate-pair row set,
    * attached both embedding arrays to every pair row, and ranked through
    * a window over all of them — materializing and re-shuffling rows that
    * exist only to be thrown away (k of ~cell-size kept per probed cell).
    * Now queries and members are cogrouped BY CELL (queries ship once per
    * probe with their embedding; members once with theirs), each cell
    * folds its per-query top-k in a [[TopK]] and only n x nprobe x k
    * partial rows reach
    * the final per-query merge window. The dot-product count is unchanged
    * (that is the intrinsic IVF verify cost); what disappears is the
    * candidate-pair row materialization and its window sort.
    *
    * Value identity with the join+window form: embeddings widen to double
    * exactly (cast; = graft_dot_f/graft_norm_f element widening), cosine
    * rounds via [[round6]], per-cell partial top-k keeps every global
    * top-k candidate because each neighbor lives in exactly one cell and
    * [[TopK]] ranks NaN/signed-zero cosines as the window does, and the
    * final window applies the identical (cosine desc, neighbor asc)
    * order. Corrupt rows cannot reach this
    * code: only probe-surviving ids (ivfProbesBroadcast drops NULL /
    * ragged / zero-norm rows) appear on either side. Pinned by
    * RewriteParitySpec against the join+window formulation. */
  private def ivfTopKFrom(embeddings: DataFrame, probes: DataFrame, k: Int,
      queries: Option[DataFrame] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // the probe projection feeds BOTH branches of the cell cogroup (query
    // probes and rank-1 assignments); materialize it once — n x nprobe
    // skinny rows — instead of running the centroid-scoring scan twice
    // (guide §2.4: two consumers, one computation)
    val p = probes.localCheckpoint()
    val assign = p.filter(col("probe_rank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val querySide = queries match {
      case Some(q) => p.join(
        broadcast(q.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      case None => p
    }
    // exact widening: float elements cast to double are the same values
    // the dot/norm kernels fold, so one double-typed path serves float
    // and double (quantize-roundtrip) corpora identically
    val eD = embeddings.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("emb"))
    val qRows = querySide.select(col("vec_id"), col("cell"))
      .join(eD, "vec_id")
      .select(col("cell"), col("vec_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
    val mRows = assign
      .join(eD.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .select(col("cell"), col("neighbor_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
    val partial = qRows.groupByKey(_._1).cogroup(mRows.groupByKey(_._1)) {
      (_, qs, ms) =>
        val mem = ms.toArray
        val mN = mem.map(m => normOf(m._3))
        qs.flatMap { case (_, vid, qe) =>
          val qn = normOf(qe)
          val top = new TopK(k)
          var c = 0
          while (c < mem.length) {
            val nid = mem(c)._2
            if (nid != vid) top.offer(round6(dotOf(qe, mem(c)._3) / (qn * mN(c))), nid)
            c += 1
          }
          top.ranked(vid).map { case (v, n, cos, _) => (v, n, cos) }
        }
    }.toDF("vec_id", "neighbor_id", "cosine")
    // final merge over the n x nprobe x k partials — identical rank
    // expression and tie order as the round-5 window. (Measured: swapping
    // this window for the topKRanked fold showed no win — the partials are
    // already only n x nprobe x k rows, the stage sat inside the host's
    // jitter band either way (1.8-2.4s at sf0.1), so the simpler window
    // form stays.)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Int8 symmetric scalar quantization — the storage-side half of a
    * 100-TB embedding store (4x smaller than float32 before the index even
    * starts). Per vector: scale = max|x| / 127, code_d = round-half-up of
    * x_d / scale (an all-zero vector quantizes to all-zero codes at scale
    * 0). One scan, one row per (vec_id, dimension), no shuffle.
    *
    * Round-half-up is spelled floor(x/scale + 0.5) so Spark and the DuckDB
    * oracle agree bit-for-bit (both engines' native round() differ on
    * half-way ties between dialects; floor does not).
    *
    * Output: (vec_id, d, code ∈ [-127, 127], scale_r). */
  def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("mx", array_max(transform(col("embedding"),
        x => abs(x))).cast("double"))
      .withColumn("scale", col("mx") / lit(127.0))
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        when(col("scale") === 0, lit(0))
          .otherwise(floor(col("x").cast("double") / col("scale") + lit(0.5))
            .cast("int")).as("code"),
        // same half-up floor spelling as the codes: the engines' native
        // round() can disagree on shortest-repr half-way ties
        (floor(col("scale") * lit(1e6) + lit(0.5)) / lit(1e6)).as("scale_r"))

  /** Quantize-dequantize roundtrip: embeddings with each component snapped
    * to its int8 reconstruction (code * scale, as array<double> — the
    * double-array dot kernels take it natively). Feeding this through
    * [[knnBrute]] against the float baseline measures exactly what int8
    * storage costs in retrieval quality; Bench records recall@5. */
  def quantizeRoundtrip(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("mx", array_max(transform(col("embedding"),
        x => abs(x))).cast("double"))
      .withColumn("scale", col("mx") / lit(127.0))
      .withColumn("embedding",
        when(col("scale") === 0,
          transform(col("embedding"), _ => lit(0.0)))
          .otherwise(transform(col("embedding"),
            x => floor(x.cast("double") / col("scale") + lit(0.5)) * col("scale"))))
      .drop("mx", "scale")

  // ---------------------------------------------------------------- oracle

  val ctes: String =
    """emb AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum([ (x::DOUBLE) * (x::DOUBLE) FOR x IN embedding ])) AS nrm
      |  FROM embeddings
      |),
      |knn_brute AS (
      |  SELECT vec_id, neighbor_id, cosine, rank::INT AS rank FROM (
      |    SELECT a.vec_id, b.vec_id AS neighbor_id,
      |           round(list_sum([ (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(a.embedding)) ])
      |                 / (a.nrm * b.nrm), 6) AS cosine,
      |           row_number() OVER (PARTITION BY a.vec_id
      |                              ORDER BY round(list_sum([ (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(a.embedding)) ])
      |                 / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rank
      |    FROM emb a, emb b WHERE a.vec_id <> b.vec_id
      |  ) WHERE rank <= 5
      |),
      |ann_params AS (
      |  SELECT planes,
      |         least(64, cast(ceil(12.0 * power(1.0 / 0.63, planes - 5)) AS INT)) AS tables
      |  FROM (SELECT least(16, greatest(4, cast(ceil(log2(count(*))) AS INT) - 4)) AS planes
      |        FROM embeddings)
      |),
      |plane_weights AS (
      |  SELECT t, p, d,
      |         CASE WHEN ('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT % 2 = 0
      |              THEN 1.0 ELSE -1.0 END AS wgt
      |  FROM (SELECT unnest(generate_series(0, (SELECT tables FROM ann_params) - 1)) AS t),
      |       (SELECT unnest(generate_series(0, (SELECT planes FROM ann_params) - 1)) AS p),
      |       (SELECT unnest(generate_series(0, 63)) AS d)
      |),
      |lsh_sigs AS (
      |  SELECT vec_id, t,
      |         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS sig
      |  FROM (
      |    SELECT e.vec_id, w.t, w.p, sum((e.embedding[w.d + 1]::DOUBLE) * w.wgt) AS proj
      |    FROM embeddings e, plane_weights w
      |    GROUP BY 1, 2, 3
      |  ) GROUP BY 1, 2
      |),
      |lsh_sigs_capped AS (
      |  SELECT s.* FROM lsh_sigs s
      |  JOIN (SELECT t, sig FROM lsh_sigs GROUP BY t, sig HAVING count(*) <= 200)
      |  USING (t, sig)
      |),
      |ann_cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS neighbor_id
      |  FROM lsh_sigs_capped x JOIN lsh_sigs_capped y ON x.t = y.t AND x.sig = y.sig
      |  WHERE x.vec_id <> y.vec_id
      |),
      |ann_topk AS (
      |  SELECT vec_id, neighbor_id, cosine, rank::INT AS rank FROM (
      |    SELECT c.vec_id, c.neighbor_id,
      |           round(list_sum([ (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(a.embedding)) ])
      |                 / (a.nrm * b.nrm), 6) AS cosine,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY round(list_sum([ (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(a.embedding)) ])
      |                 / (a.nrm * b.nrm), 6) DESC, c.neighbor_id ASC) AS rank
      |    FROM ann_cand c
      |    JOIN emb a ON c.vec_id = a.vec_id
      |    JOIN emb b ON c.neighbor_id = b.vec_id
      |  ) WHERE rank <= 5
      |),
      |embed_neardup AS (
      |  SELECT a, b, cosine FROM (
      |    SELECT c.a, c.b,
      |           round(list_sum([ (ea.embedding[i]::DOUBLE) * (eb.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(ea.embedding)) ])
      |                 / (ea.nrm * eb.nrm), 6) AS cosine
      |    FROM (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      |          FROM lsh_sigs_capped x JOIN lsh_sigs_capped y ON x.t = y.t AND x.sig = y.sig
      |          WHERE x.vec_id < y.vec_id) c
      |    JOIN emb ea ON c.a = ea.vec_id
      |    JOIN emb eb ON c.b = eb.vec_id
      |  ) WHERE cosine >= 0.3
      |),
      |ivf_params AS (
      |  SELECT nlist,
      |         least(128, greatest(4, cast(ceil(nlist * 0.5) AS INT))) AS nprobe
      |  FROM (SELECT greatest(16, cast(floor(sqrt(count(*))) AS INT)) AS nlist
      |        FROM embeddings)
      |),
      |ivf_centroids AS (
      |  SELECT cell, cv, cnrm FROM (
      |    SELECT vec_id AS cell, embedding AS cv, nrm AS cnrm,
      |           row_number() OVER (ORDER BY vec_id) AS rn
      |    FROM emb)
      |  WHERE rn <= (SELECT nlist FROM ivf_params)
      |),
      |ivf_probes AS (
      |  SELECT vec_id, cell, cosine, probe_rank::INT AS probe_rank FROM (
      |    SELECT e.vec_id, c.cell,
      |           round(list_sum([ (e.embedding[i]::DOUBLE) * (c.cv[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(e.embedding)) ])
      |                 / (e.nrm * c.cnrm), 6) AS cosine,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY round(list_sum([ (e.embedding[i]::DOUBLE) * (c.cv[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(e.embedding)) ])
      |                 / (e.nrm * c.cnrm), 6) DESC, c.cell ASC) AS probe_rank
      |    FROM emb e, ivf_centroids c
      |  ) WHERE probe_rank <= (SELECT nprobe FROM ivf_params)
      |),
      |ivf_topk AS (
      |  SELECT vec_id, neighbor_id, cosine, rank::INT AS rank FROM (
      |    SELECT p.vec_id, a.vec_id AS neighbor_id,
      |           round(list_sum([ (ea.embedding[i]::DOUBLE) * (eb.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(ea.embedding)) ])
      |                 / (ea.nrm * eb.nrm), 6) AS cosine,
      |           row_number() OVER (PARTITION BY p.vec_id
      |                              ORDER BY round(list_sum([ (ea.embedding[i]::DOUBLE) * (eb.embedding[i]::DOUBLE)
      |                            FOR i IN generate_series(1, len(ea.embedding)) ])
      |                 / (ea.nrm * eb.nrm), 6) DESC, a.vec_id ASC) AS rank
      |    FROM (SELECT vec_id, cell FROM ivf_probes) p
      |    JOIN (SELECT vec_id, cell FROM ivf_probes WHERE probe_rank = 1) a USING (cell)
      |    JOIN emb ea ON p.vec_id = ea.vec_id
      |    JOIN emb eb ON a.vec_id = eb.vec_id
      |    WHERE p.vec_id <> a.vec_id
      |  ) WHERE rank <= 5
      |),
      |quant_scale AS (
      |  SELECT vec_id, embedding,
      |         list_max([ abs(x::DOUBLE) FOR x IN embedding ]) / 127.0::DOUBLE AS scale
      |  FROM embeddings
      |),
      |embed_quantize AS (
      |  SELECT vec_id, (d - 1)::INT AS d,
      |         CASE WHEN scale = 0 THEN 0
      |              ELSE floor((embedding[d]::DOUBLE) / scale + 0.5::DOUBLE)::INT
      |         END AS code,
      |         floor(scale * 1000000.0::DOUBLE + 0.5::DOUBLE) / 1000000.0::DOUBLE AS scale_r
      |  FROM (SELECT vec_id, embedding, scale,
      |               unnest(generate_series(1, len(embedding))) AS d
      |        FROM quant_scale)
      |)""".stripMargin
}
