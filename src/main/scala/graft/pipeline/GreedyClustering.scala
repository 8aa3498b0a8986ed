package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.engine._

/** Stage 5b — greedy consistency clustering refining the candidate graph
  * (the reference's production clusterer, MessagePassing.java:150-205),
  * run per connected component in one typed cogroup, one task per
  * component.
  *
  * Components of the (weak) candidate graph up to `maxComponentSize` run
  * the EXACT reference BFS (embarrassingly parallel across components).
  * A larger, giant component (glued by rare-shared-token hubs, e.g.
  * nicknames — SURVEY.md §7.5) runs a three-phase scheme in its task
  * (`threePhases`):
  *    (1) STRONG-edge (2-common-token) sub-components are each clustered
  *    with the exact engine; (2) refs left in singleton clusters
  *    (weak-edge-only forms: nicknames, single initials, misspellings)
  *    form their own weak-edge sub-components of at most
  *    `LonerComponentCap` refs, each again clustered with the exact engine
  *    — so matching loner pairs/chains merge exactly as the reference BFS
  *    would; (3) remaining singletons are attached to adjacent multi-ref
  *    clusters in up to `AttachRounds` rounds, testing the same
  *    consistency engine against serialized cluster profiles in the
  *    reference's priority order (`propose`) and folding each round's
  *    attachments back into the profiles (`fold`) so later rounds ride
  *    earlier ones. The batching of profile mutation per round (instead
  *    of per ref) is the one documented deviation from the reference
  *    BFS; small components keep bit-exact reference semantics.
  *
  * One route serves every giant component. Its task holds the whole
  * component, so its memory grows with the component: on er_skew-style
  * corpora (seed 13, local mode on 4 cores) the task's peak execution
  * memory was 70, 76, 135 and 405 MB for components of 98k, 417k, 1.6M
  * and 5.9M candidate rows, and the 1.6M-row component ran in a 1 GB
  * JVM. Running the phases as distributed jobs instead (a union-find
  * over each edge subset, exact clustering per sub-component, one job
  * chain per attach round) held tasks at 68–106 MB but was slower at
  * every one of those sizes: 10.9–16.4 s against 4.8–6.0 s at 98k rows,
  * 23.0–25.2 s against 10.8–10.9 s at 1.6M and 33–36 s against 29–32 s
  * at 5.9M, for a whole `assignments` call. Nor did it bound a component:
  * phase (1) clustered each strong sub-component whole in one task. The
  * largest inputs measured (5.9M rows, whose upstream aggregation needs
  * more than a 1 GB driver) fit one task.
  *
  * Sizes ride the frames they describe (`comp_size` on `cc`, a cluster's
  * `size` on its seed row), so no phase counts a group and joins the
  * count back.
  */
object GreedyClustering {

  final case class TokRow(mention_id: Long, token: String, pos: Int,
      is_abbr: Boolean, is_before_dot: Boolean, name_part: String)
  final case class MentionRow(mention_id: Long, name: String, weight: Long,
      component_id: Long, comp_size: Long, toks: Seq[TokRow])
  final case class EdgeRow(component_id: Long, src: Long, dst: Long, common_cnt: Int)
  final case class EntryRow(token: String, is_abbr: Boolean,
      is_before_dot: Boolean, name_part: Int, ord: Int)
  final case class CoreOut(mention_id: Long, cluster_id: Long,
      profile: Seq[EntryRow], size: Int)
  /** The reference's seed/visit order key (MessagePassing.java:158-162):
    * (token count, abbreviated-token count, -weight, mention_id). */
  type Prio = (Int, Int, Long, Long)

  /** The phonetic coders `hierarchy` may name. */
  val Coders: Seq[String] = Seq("soundex", "metaphone", "nysiis", "onca", "statcan")

  private def toToks(toks: Seq[TokRow]): Array[Tok] =
    toks.sortBy(_.pos).map(t => new Tok(t.token, t.pos, t.is_abbr,
      t.is_before_dot, NamePart.fromString(t.name_part))).toArray

  private def prio(m: MentionRow): Prio =
    (m.toks.length, m.toks.count(_.is_abbr), -m.weight, m.mention_id)

  /** Clusters every group via typed cogroup: the exact reference BFS, or
    * `threePhases` for a group whose rows' `comp_size` is above
    * `maxComponentSize`. Emits each ref's cluster and, on the seed row, the
    * cluster's final profile and size. */
  private def exactCluster(ms: Dataset[MentionRow], es: Dataset[EdgeRow],
      hier: String, maxComponentSize: Long): Dataset[CoreOut] = {
    import ms.sparkSession.implicits._
    ms.groupByKey(_.component_id)
      .cogroup(es.groupByKey(_.component_id)) { (_, mi, ei) =>
        val (rows, edges, h) = (mi.toSeq, ei.toSeq, hierOf(hier))
        if (rows.headOption.exists(_.comp_size > maxComponentSize))
          threePhases(rows, edges, h).iterator
        else exactRows(rows, edges, h).iterator
      }
  }

  /** The exact reference BFS over one group's rows. */
  private def exactRows(ms: Seq[MentionRow], es: Seq[EdgeRow], h: Hierarchy): Seq[CoreOut] = {
    val (assign, profiles) = Greedy.cluster(
      ms.map(r => Greedy.Ref(r.mention_id, r.name, r.weight, toToks(r.toks))),
      es.map(e => (e.src, e.dst)), h)
    val sizes = assign.groupMapReduce(_._2)(_ => 1)(_ + _)
    assign.map { case (id, c) =>
      if (id == c) CoreOut(id, c, toEntryRows(profiles(c)), sizes(c))
      else CoreOut(id, c, Seq.empty, 0)
    }
  }

  /** The attachment proposal: the first candidate cluster (its seed row,
    * keyed by the cluster's best neighbour priority), in `Prio` order,
    * whose profile the loner is consistent with or can become consistent
    * with. Every test builds fresh toks, as `canBecomeConsistent` rewrites
    * their name parts. */
  private def propose(h: Hierarchy, toks: Seq[TokRow], cands: Seq[(Prio, CoreOut)]): Option[Long] =
    cands.sortBy(_._1).find { case (_, seed) =>
      val res = fromEntryRows(seed.profile).matchRef(h, toToks(toks).toSeq)
      res.isConsistent || res.canBecomeConsistent
    }.map(_._2.cluster_id)

  /** The attachment fold: re-validates one cluster's proposed loners in
    * `prio` order against its incrementally merged profile and merges each
    * one accepted. Returns the merged profile and the accepted loners. */
  private def fold(h: Hierarchy, profile: Seq[EntryRow], proposed: Seq[MentionRow])
      : (Seq[EntryRow], Seq[Long]) = {
    val prof = fromEntryRows(profile)
    val accepted = Seq.newBuilder[Long]
    for (a <- proposed.sortBy(prio)) {
      val res = prof.matchRef(h, toToks(a.toks).toSeq)
      if (res.isConsistent || res.canBecomeConsistent) {
        prof.merge(res)
        accepted += a.mention_id
      }
    }
    (toEntryRows(prof), accepted.result())
  }

  /** The three giant-path phases over one component's rows, in one task:
    * the state keeps exactCluster's rows, profiles as `EntryRow`s. */
  private def threePhases(ms: Seq[MentionRow], es: Seq[EdgeRow], h: Hierarchy)
      : Iterable[CoreOut] = {
    val byId = ms.iterator.map(m => m.mention_id -> m).toMap
    val state = mutable.HashMap.empty[Long, CoreOut]
    def update(rows: Seq[CoreOut]): Unit = rows.foreach(r => state(r.mention_id) = r)
    def single(id: Long) = state.get(id).exists(r => r.cluster_id == id && r.size == 1)

    // phase 1: the strong-edge sub-components. The BFS never crosses a
    // group's edges, so one call clusters each group as its own call would
    update(exactRows(ms, es.filter(_.common_cnt >= 2), h))

    // phase 2: the singles' weak-edge sub-components of at most
    // LonerComponentCap mentions (the union-find root is the minimum id)
    val lonerEdges = es.filter(e => single(e.src) && single(e.dst))
    val uf = new LocalUnionFind
    lonerEdges.foreach(e => uf.union(e.src, e.dst))
    val groupOf = (0 until uf.size).map(i => uf.id(i) -> uf.rootId(i)).toMap
    val groupSize = groupOf.values.groupMapReduce(identity)(_ => 1)(_ + _)
    update(exactRows(
      ms.filter(m => groupOf.get(m.mention_id).exists(groupSize(_) <= LonerComponentCap)),
      lonerEdges, h))

    // phase 3: attachment rounds, until one proposes nothing (the state is
    // then unchanged, so no later round would propose)
    var round = 0
    var proposed = true
    while (round < AttachRounds && proposed) {
      // each loner's adjacent multi-mention clusters, with the best
      // priority among the loner's neighbours in each
      val best = mutable.HashMap.empty[Long, mutable.HashMap[Long, Prio]]
      for (e <- es; (loner, nbr) <- Seq(e.src -> e.dst, e.dst -> e.src)
           if single(loner); n <- state.get(nbr)
           if n.cluster_id != loner && state(n.cluster_id).size > 1) {
        val p = prio(byId(nbr))
        best.getOrElseUpdate(loner, mutable.HashMap.empty)
          .updateWith(n.cluster_id)(o => Some(o.fold(p)(Ordering[Prio].min(_, p))))
      }
      val proposals = best.toSeq.flatMap { case (loner, cs) =>
        propose(h, byId(loner).toks, cs.toSeq.map { case (c, p) => p -> state(c) })
          .map(_ -> byId(loner))
      }
      proposed = proposals.nonEmpty
      for ((c, loners) <- proposals.groupMap(_._1)(_._2)) {
        val seed = state(c)
        val (profile, accepted) = fold(h, seed.profile, loners)
        update(seed.copy(profile = profile, size = seed.size + accepted.length) +:
          accepted.map(CoreOut(_, c, Seq.empty, 0)))
      }
      round += 1
    }
    state.values
  }

  private def toEntryRows(p: ClusterProfile): Seq[EntryRow] =
    p.entries.map(e => EntryRow(e.element.value, e.isAbbr, e.isBeforeDot,
      e.namePart, e.order)).toSeq

  private def fromEntryRows(rows: Seq[EntryRow]): ClusterProfile =
    new ClusterProfile(scala.collection.mutable.ArrayBuffer.from(
      rows.sortBy(_.ord).map(r => new ProfileEntry(
        ElementKey(1, 'T', r.token), r.is_abbr, r.is_before_dot,
        r.name_part, r.ord))))

  private def hierOf(name: String): Hierarchy = name match {
    case "soundex" => Hierarchy.default
    case "metaphone" => Hierarchy.metaphone
    case "nysiis" => Hierarchy.nysiis
    case "onca" => Hierarchy.onca
    case "statcan" => Hierarchy.statcan
  }

  /** Phase-3 attachment rounds on the giant path. */
  private val AttachRounds = 3

  /** Tractability bound for phase-2 loner-loner sub-components
    * (independent of the `maxComponentSize` giant-path trigger): weak
    * components larger than this skip exact clustering and rely on the
    * attachment rounds only. */
  private val LonerComponentCap = 3000

  /** Giant-component bound: larger components take the three-phase path. */
  val defaultMaxComponentSize: Int = 3000

  /** assignments(mention_id, name, weight, component_id, cluster_id):
    * cluster_id = BFS-seed mention of the consistency clusterer. */
  def assignments(
      mentions: DataFrame,
      tokens: DataFrame,
      candidates: DataFrame,
      hierarchy: String = "soundex",
      maxComponentSize: Int = defaultMaxComponentSize,
      /** When set, the connected-component loop (`cc`) is snapshotted under
        * it as parquet, not in executor-local blocks — the durable path for
        * long-lived clusters with dynamic allocation. The loop's cuts go
        * through CheckpointStore.materialize (no inference job). */
      durableDir: Option[String] = None,
      /** Instrumentation valve (`Bench` and erbench's traced chain): receives
        * (phase, seconds) for the stage's internal phases — cc / prep /
        * small. small is the cogroup that clusters every component, giant
        * ones included. When set, the cogroup's output is additionally
        * localCheckpoint'ed so its wall time lands in its own phase instead
        * of the caller's final action; values are identical either way.
        * None (the default) changes nothing. */
      phaseSink: Option[(String, Double) => Unit] = None,
      /** Precomputed (already materialized) components over the SAME
        * (mentions, candidates): [[ConnectedComponents.components]] or the
        * CC stage's assignments. A pipeline that has run the CC stage for
        * its own output (the Queries memoizer, any caller publishing both
        * clusterings) injects it here so the iterative CC loop runs once
        * per pipeline instead of once per consumer (round-6 change, guide
        * §2.4: shared stage, identical values by construction). None
        * recomputes internally, as before. */
      ccDf: Option[DataFrame] = None): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    require(Coders.contains(hierarchy),
      s"unknown coder '$hierarchy' (allowed: ${Coders.mkString("|")})")

    def phase[T](name: String)(f: => T): T = phaseSink match {
      case Some(sink) =>
        val t0 = System.nanoTime()
        val r = f
        sink(name, (System.nanoTime() - t0) / 1e9)
        r
      case None => f
    }

    // pin the candidates for the two passes below (CC and edges) — but
    // skip the copy when the caller already hands a MATERIALIZED frame: a
    // bare localCheckpoint / checkpoint or a parquet scan (the Pipeline's
    // CheckpointStore stages) analyzes to a leaf, and copying it again
    // would only duplicate the pair table. Mentions are read once.
    val cand = candidates.queryExecution.analyzed match {
      case _: LeafNode => candidates
      case _ => candidates.localCheckpoint()
    }

    // each mention's component with its size, joined back once (a window
    // would buffer a giant component in one task, see Valves.capGroups);
    // cut, as the mentions, the edges and the output each read it
    val cc = phase("cc") {
      val comps = ccDf
        .map(_.select($"mention_id", $"name", $"weight", $"component_id"))
        .getOrElse(ConnectedComponents.components(mentions, cand, durableDir.map(_ + "/cc")))
      comps.join(comps.groupBy($"component_id").count()
        .withColumnRenamed("count", "comp_size"), "component_id").localCheckpoint()
    }

    val mentionToks = phase("prep")(tokens
      .groupBy($"mention_id")
      .agg(sort_array(collect_list(struct(
        $"mention_id", $"token", $"pos", $"is_abbr", $"is_before_dot", $"name_part"
      ))).as("toks"))
      .join(cc, "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"comp_size", $"toks"))

    val edges = phase("prep")(cand
      .groupBy(least($"dst_id", $"org_id").as("src"),
        greatest($"dst_id", $"org_id").as("dst"))
      .agg(max($"common_cnt").cast("int").as("common_cnt"))
      .join(cc.select($"mention_id".as("src"), $"component_id"), "src")
      .select($"component_id", $"src", $"dst", $"common_cnt"))

    // ---- one task per component: the exact reference BFS, or the three
    // phases for a giant component
    val task = exactCluster(mentionToks.as[MentionRow], edges.as[EdgeRow],
      hierarchy, maxComponentSize).toDF().select($"mention_id", $"cluster_id")
    // instrumented runs force the cogroup here so its wall time lands
    // in the "small" phase; the production path stays lazy (one less
    // materialization — the caller's action computes it in-stream)
    val assigns =
      if (phaseSink.isDefined) phase("small")(task.localCheckpoint()) else task

    cc.join(assigns, "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"cluster_id")
  }
}
