package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.checkpoint.CheckpointStore.materialize
import graft.engine._

/** Stage 5b — greedy consistency clustering refining the candidate graph
  * (the reference's production clusterer, MessagePassing.java:150-205),
  * run per connected component via typed cogroup.
  *
  * Components of the (weak) candidate graph up to `maxComponentSize` run
  * the EXACT reference BFS per component (embarrassingly parallel across
  * components). Oversized components (glued by rare-shared-token hubs,
  * e.g. nicknames — SURVEY.md §7.5) run a three-phase scheme:
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
  * Three routes, chosen per component from its `comp_size` and, for a
  * giant component, its candidate rows:
  *  - `comp_size <= maxComponentSize`: the exact BFS, in the one
  *    `exactCluster` cogroup;
  *  - a giant component whose candidate rows (`comp_edges`, directed
  *    pairs: an upper bound on its edges, and so on its mentions minus
  *    one) fit one task's budget, [[TaskCandidateRows]]: the three phases
  *    in plain Scala, in that same cogroup's task (`threePhases`). No loop
  *    state is snapshotted: the caller's cut of the stage output holds it;
  *  - above the budget: the three phases as distributed jobs, the only
  *    route for a component too large for one task. Phases (1) and (2)
  *    share one sub-component routine: connected components over an edge
  *    subset label the groups, a mention without a group is its own, and
  *    phase (2) first drops the groups above `LonerComponentCap`.
  *
  * Sizes ride the frames they describe (`comp_size` on `cc`, a cluster's
  * `size` on its seed row), and control flow reads observations, not
  * extra jobs: whether any component is giant is the largest `comp_size`,
  * observed on the `cc` cut; only then are the giant components'
  * candidate rows counted, and whether the distributed route runs is the
  * largest count, observed on that count's cut; whether an attachment
  * round proposed anything is the row count observed on its proposals'
  * cut ([[graft.checkpoint.CheckpointStore.materialize]], as in
  * [[ConnectedComponents.run]]).
  */
object GreedyClustering {

  final case class TokRow(mention_id: Long, token: String, pos: Int,
      is_abbr: Boolean, is_before_dot: Boolean, name_part: String)
  final case class MentionRow(mention_id: Long, name: String, weight: Long,
      component_id: Long, comp_size: Long, toks: Seq[TokRow])
  final case class EdgeRow(component_id: Long, src: Long, dst: Long, common_cnt: Int)
  final case class AssignRow(mention_id: Long, cluster_id: Long)
  final case class EntryRow(token: String, is_abbr: Boolean,
      is_before_dot: Boolean, name_part: Int, ord: Int)
  final case class CoreOut(mention_id: Long, cluster_id: Long,
      profile: Seq[EntryRow], size: Int)
  final case class ProfRow(cluster_id: Long, profile: Seq[EntryRow], size: Int)
  final case class FoldOut(cluster_id: Long, profile: Seq[EntryRow],
      accepted: Seq[Long], size: Int)
  final case class AttachToks(cluster_id: Long, mention_id: Long,
      weight: Long, toks: Seq[TokRow])
  /** The reference's seed/visit order key (MessagePassing.java:158-162):
    * (token count, abbreviated-token count, -weight, mention_id). */
  type Prio = (Int, Int, Long, Long)
  /** One attachment proposal: a loner, an adjacent cluster, the cluster's
    * best neighbour priority and the cluster's profile. */
  final case class LonerCand(loner_id: Long, cluster_id: Long, prio: Prio,
      profile: Seq[EntryRow])

  /** The phonetic coders `hierarchy` may name. */
  val Coders: Seq[String] = Seq("soundex", "metaphone", "nysiis", "onca", "statcan")

  private def toToks(toks: Seq[TokRow]): Array[Tok] =
    toks.sortBy(_.pos).map(t => new Tok(t.token, t.pos, t.is_abbr,
      t.is_before_dot, NamePart.fromString(t.name_part))).toArray

  private def prioOfToks(toks: Seq[TokRow], weight: Long, id: Long): Prio =
    (toks.length, toks.count(_.is_abbr), -weight, id)

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

  /** The attachment proposal: the first candidate cluster, in `Prio`
    * order, whose profile the loner is consistent with or can become
    * consistent with. Every test builds fresh toks, as `canBecomeConsistent`
    * rewrites their name parts. */
  private def propose(h: Hierarchy, toks: Seq[TokRow], cands: Seq[LonerCand]): Option[Long] =
    cands.sortBy(_.prio).find { c =>
      val res = fromEntryRows(c.profile).matchRef(h, toToks(toks).toSeq)
      res.isConsistent || res.canBecomeConsistent
    }.map(_.cluster_id)

  /** The attachment fold: re-validates one cluster's proposed loners in
    * `prioOfToks` order against its incrementally merged profile and
    * merges each one accepted. Returns the merged profile and the accepted
    * loners. */
  private def fold(h: Hierarchy, profile: Seq[EntryRow], proposed: Seq[AttachToks])
      : (Seq[EntryRow], Seq[Long]) = {
    val prof = fromEntryRows(profile)
    val accepted = Seq.newBuilder[Long]
    for (a <- proposed.sortBy(x => prioOfToks(x.toks, x.weight, x.mention_id))) {
      val res = prof.matchRef(h, toToks(a.toks).toSeq)
      if (res.isConsistent || res.canBecomeConsistent) {
        prof.merge(res)
        accepted += a.mention_id
      }
    }
    (toEntryRows(prof), accepted.result())
  }

  /** The three giant-path phases over one component's rows, in one task,
    * with the distributed route's groups, rules and profile round-trips:
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
        val m = byId(nbr)
        val p = prioOfToks(m.toks, m.weight, nbr)
        best.getOrElseUpdate(loner, mutable.HashMap.empty)
          .updateWith(n.cluster_id)(o => Some(o.fold(p)(Ordering[Prio].min(_, p))))
      }
      val proposals = best.toSeq.flatMap { case (loner, cs) =>
        propose(h, byId(loner).toks, cs.toSeq.map { case (c, p) =>
          LonerCand(loner, c, p, state(c).profile)
        }).map(_ -> byId(loner))
      }
      proposed = proposals.nonEmpty
      for ((c, loners) <- proposals.groupMap(_._1)(_._2)) {
        val seed = state(c)
        val (profile, accepted) = fold(h, seed.profile,
          loners.map(m => AttachToks(c, m.mention_id, m.weight, m.toks)))
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

  /** One task's budget of a giant component's candidate rows: a component
    * with at most this many runs its three phases in one task, a larger
    * one as distributed jobs. Measured on er_skew-style corpora (seed 13,
    * local mode on 4 cores), an `assignments` call on the in-task route
    * took 4.8-6.0 s against 10.9-16.4 s distributed at 98k rows,
    * 10.8-10.9 s against 23.0-25.2 s at 1.6M rows, and 29-32 s against
    * 33-36 s at 5.9M rows, where the task's peak execution memory reached
    * 405 MB (135 MB at 1.6M). At 1.6M rows it also ran in a 1 GB JVM. The
    * budget sits below that point: there the task fits a 1 GB JVM and
    * wins twofold. */
  private[pipeline] val TaskCandidateRows: Long = 1L << 20

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
      /** When set, the connected-component loop (`cc`) and, on the
        * distributed giant route, each attachment round's state
        * (assignments, with the profiles on seed rows) and the
        * sub-component loops (`cc_strong`, `cc_loner`) are snapshotted
        * under it as parquet, not in executor-local blocks — the durable
        * path for long-lived clusters with dynamic allocation. Every cut
        * goes through CheckpointStore.materialize (no inference job). */
      durableDir: Option[String] = None,
      /** Instrumentation valve (`Bench` and erbench's traced chain): receives
        * (phase, seconds) for the stage's internal phases — cc / prep / small /
        * core / loner / attach. core / loner / attach time only the
        * distributed giant route; a giant component run in one task lands in
        * small, with every other component. When set, the cogroup's output
        * is additionally localCheckpoint'ed so its wall time lands in its
        * own phase instead of the caller's final action; values are
        * identical either way. None (the default) changes nothing. */
      phaseSink: Option[(String, Double) => Unit] = None,
      /** Precomputed (already materialized) components over the SAME
        * (mentions, candidates): [[ConnectedComponents.components]] or the
        * CC stage's assignments. A pipeline that has run the CC stage for
        * its own output (the Queries memoizer, any caller publishing both
        * clusterings) injects it here so the iterative CC loop runs once
        * per pipeline instead of once per consumer (round-6 change, guide
        * §2.4: shared stage, identical values by construction). None
        * recomputes internally, as before. */
      ccDf: Option[DataFrame] = None): DataFrame =
    assignmentsWithin(mentions, tokens, candidates, hierarchy, maxComponentSize,
      durableDir, phaseSink, ccDf, TaskCandidateRows)

  /** [[assignments]] with one task's budget of candidate rows as a
    * parameter: a giant component of at most `taskEdges` rows runs its
    * three phases in one task. Specs set it below every component to force
    * the distributed route. */
  private[pipeline] def assignmentsWithin(mentions: DataFrame, tokens: DataFrame,
      candidates: DataFrame, hierarchy: String, maxComponentSize: Int,
      durableDir: Option[String], phaseSink: Option[(String, Double) => Unit],
      ccDf: Option[DataFrame], taskEdges: Long): DataFrame = {
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
    // would buffer a giant component in one task, see Valves.capGroups).
    // Only when a component is giant are candidate rows counted, and only
    // its own: the giant components over one task's budget, if any
    val (cc, overBudget) = phase("cc") {
      val comps = ccDf
        .map(_.select($"mention_id", $"name", $"weight", $"component_id"))
        .getOrElse(ConnectedComponents.components(mentions, cand, durableDir.map(_ + "/cc")))
      val (sized, sizeObs) = materialize(comps.join(comps.groupBy($"component_id").count()
          .withColumnRenamed("count", "comp_size"), "component_id"),
        None, coalesce(max($"comp_size"), lit(0L)).as("max_size"))
      if (sizeObs("max_size").asInstanceOf[Long] <= maxComponentSize) (sized, None)
      else {
        val giantOf = sized.filter($"comp_size" > maxComponentSize)
          .select($"mention_id".as("dst_id"), $"component_id")
        val (rows, obs) = materialize(cand.join(giantOf, "dst_id")
            .groupBy($"component_id").agg(count(lit(1)).as("comp_edges")),
          None, coalesce(max($"comp_edges"), lit(0L)).as("max_edges"))
        (sized, Option.when(obs("max_edges").asInstanceOf[Long] > taskEdges)(
          rows.filter($"comp_edges" > taskEdges).select($"component_id")))
      }
    }
    // tags each row whose component takes the distributed route; a cut pays
    // off only when both the cogroup and that route read the frame
    def routed(df: DataFrame): DataFrame = overBudget match {
      case None => df.withColumn("distributed", lit(false))
      case Some(big) => df.join(big.withColumn("distributed", lit(true)),
          Seq("component_id"), "left")
        .na.fill(false, Seq("distributed")).localCheckpoint()
    }

    val mentionToks = phase("prep")(routed(tokens
      .groupBy($"mention_id")
      .agg(sort_array(collect_list(struct(
        $"mention_id", $"token", $"pos", $"is_abbr", $"is_before_dot", $"name_part"
      ))).as("toks"))
      .join(cc, "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"comp_size", $"toks")))

    val compOf = cc.select($"mention_id".as("src"), $"component_id", $"comp_size")
    val edges = phase("prep")(routed(cand
      .groupBy(least($"dst_id", $"org_id").as("src"),
        greatest($"dst_id", $"org_id").as("dst"))
      .agg(max($"common_cnt").cast("int").as("common_cnt"))
      .join(compOf, "src")
      .select($"component_id", $"src", $"dst", $"common_cnt", $"comp_size")))

    // ---- one task per component: the exact reference BFS, or the three
    // phases for a giant component within one task's budget
    val inTask = !$"distributed"
    val task = exactCluster(mentionToks.filter(inTask).as[MentionRow],
      edges.filter(inTask).as[EdgeRow], hierarchy, maxComponentSize)
      .toDF().select($"mention_id", $"cluster_id")
    // instrumented runs force the cogroup here so its wall time lands
    // in the "small" phase; the production path stays lazy (one less
    // materialization — the caller's action computes it in-stream)
    val taskAssigns =
      if (phaseSink.isDefined) phase("small")(task.localCheckpoint()) else task

    // ---- distributed giant-component route (skipped entirely when every
    // giant component fits one task — the common case at moderate scale)
    val bigAssigns: DataFrame = if (overBudget.isEmpty) spark.emptyDataset[AssignRow].toDF()
    else {
    val bigMentions = mentionToks.filter(!inTask).as[MentionRow]
    val bigEdges = edges.filter(!inTask)

    // connected components of the edge subset `sub` (src, dst, ...) as
    // (mention_id, group)
    def groupsOf(sub: DataFrame, name: String): DataFrame =
      ConnectedComponents.run(sub.select($"src", $"dst"),
        durableDir = durableDir.map(_ + s"/$name"))
        .select($"id".as("mention_id"), $"component".as("group"))

    // exact BFS per sub-component: `groups` labels the sub-components of
    // the edge subset `sub`; `ms` is the mentions to cluster, with their
    // `group` joined on (a mention without one is its own sub-component)
    def exactSub(ms: DataFrame, sub: DataFrame, groups: DataFrame): DataFrame =
      exactCluster(
        ms.select($"mention_id", $"name", $"weight",
            coalesce($"group", $"mention_id").as("component_id"), $"comp_size", $"toks")
          .as[MentionRow],
        sub.join(groups.withColumnRenamed("mention_id", "src"), "src")
          .select($"group".as("component_id"), $"src", $"dst", $"common_cnt")
          .as[EdgeRow],
        hierarchy, Long.MaxValue).toDF().localCheckpoint()

    // ---- phase 1: strong-edge sub-components, clustered exactly, profiles
    // exported
    val coreOut = phase("core") {
      val strong = bigEdges.filter($"common_cnt" >= 2)
      val groups = groupsOf(strong, "cc_strong")
      exactSub(bigMentions.toDF().join(groups, Seq("mention_id"), "left"), strong, groups)
    }

    // running state, shaped as exactCluster's output: one (mention_id,
    // cluster_id, profile, size) row per mention, the cluster's final
    // profile and size on its seed row (mention_id = cluster_id), empty
    // and 0 elsewhere
    var state = coreOut
    def seeds = state.filter($"mention_id" === $"cluster_id")
    def singles = seeds.filter($"size" === 1).select($"mention_id")

    // ---- phase 2: loner-loner chaining. Refs left in singleton clusters
    // form weak-edge sub-components of their own (e.g. shared-nickname
    // groups); run the EXACT engine per sub-component so matching loner
    // pairs/chains cluster just as the reference BFS would (round 1 left
    // them all singletons — the measured recall gap). Oversized loner
    // components fall through to the attachment rounds below.
    phase("loner") {
      val lonerEdges = bigEdges
        .join(singles.withColumnRenamed("mention_id", "src"), "src")
        .join(singles.withColumnRenamed("mention_id", "dst"), "dst")
        .localCheckpoint()
      val groups = groupsOf(lonerEdges, "cc_loner")
      val bounded = groups.join(groups.groupBy($"group").count()
        .filter($"count" <= LonerComponentCap).select($"group"), "group")
        .localCheckpoint()
      val lonerOut = exactSub(bigMentions.toDF().join(bounded, "mention_id"),
        lonerEdges, bounded)
      state = state.join(lonerOut.select($"mention_id"), Seq("mention_id"), "left_anti")
        .unionByName(lonerOut)
    }

    // ---- phase 3: attachment rounds. Remaining singleton refs are tested
    // against the final profiles of adjacent multi-ref clusters in the
    // reference's priority order; after each round the attached refs are
    // merged into their cluster's profile (deterministic priority order),
    // so later rounds can ride earlier attachments — the parallel-batched
    // analogue of the reference BFS's incremental profile growth.
    var round = 0
    var done = false
    while (round < AttachRounds && !done) phase("attach") {
      state = materialize(state, durableDir.map(_ + s"/greedy_state_r$round"))._1
      val multiClusters = seeds.filter($"size" > 1).select($"cluster_id")
      val adj = bigEdges
        .select(explode(array(
          struct($"src".as("a"), $"dst".as("b")),
          struct($"dst".as("a"), $"src".as("b")))).as("e"))
        .select($"e.a".as("loner_id"), $"e.b".as("nbr"))
        .join(singles.withColumnRenamed("mention_id", "loner_id"), "loner_id")
        .join(state.select($"mention_id".as("nbr"), $"cluster_id"), "nbr")
        .join(multiClusters, "cluster_id")
        .filter($"cluster_id" =!= $"loner_id")
      // the neighbour's Prio, as a struct whose fields decode as the tuple
      val nbrPrio = bigMentions.toDF().select($"mention_id".as("nbr"),
        size($"toks").as("_1"),
        expr("size(filter(toks, t -> t.is_abbr))").as("_2"),
        (-$"weight").as("_3"), $"mention_id".as("_4"))
      val lonerCands = adj.join(nbrPrio, "nbr")
        .groupBy($"loner_id", $"cluster_id")
        .agg(min(struct($"_1", $"_2", $"_3", $"_4")).as("prio"))
        .join(seeds.select($"cluster_id", $"profile"), "cluster_id")
        .select($"loner_id", $"cluster_id", $"prio", $"profile")
        .as[LonerCand]

      // each loner proposes the first adjacent cluster, in priority order,
      // whose profile it is consistent with
      val attach = bigMentions
        .joinWith(lonerCands, bigMentions("mention_id") === lonerCands("loner_id"))
        .groupByKey(_._1.mention_id)
        .flatMapGroups { (id, it) =>
          val rows = it.toSeq
          propose(hierOf(hierarchy), rows.head._1.toks, rows.map(_._2))
            .iterator.map(AssignRow(id, _))
        }
      val (attachDf, proposed) = materialize(attach.toDF(), None, count(lit(1)).as("rows"))
      if (proposed("rows") == 0L) done = true
      else {
        // Fold the PROPOSED refs into their clusters' profiles and emit the
        // final assignments FROM the fold: an attachment only commits if its
        // matchRef re-validates against the round's incrementally merged
        // profile (earlier same-round merges may have made it inconsistent).
        // A rejected loner stays single and retries next round against the
        // updated profile — membership and profile can never diverge.
        val attachToks = attachDf
          .join(bigMentions.toDF().select($"mention_id", $"weight", $"toks"), "mention_id")
          .select($"cluster_id", $"mention_id", $"weight", $"toks")
          .as[AttachToks]
        val folded = seeds.select($"cluster_id", $"profile", $"size").as[ProfRow]
          .groupByKey(_.cluster_id)
          .cogroup(attachToks.groupByKey(_.cluster_id)) { (k, ps, as) =>
            ps.take(1).map { p =>
              if (!as.hasNext) FoldOut(k, p.profile, Seq.empty, p.size)
              else {
                val (profile, acc) = fold(hierOf(hierarchy), p.profile, as.toSeq)
                FoldOut(k, profile, acc, p.size + acc.length)
              }
            }
          }.toDF().localCheckpoint()
        // never empty when proposals exist: each cluster's first proposal is
        // re-tested against the very profile it was proposed against
        // (matchRef does not mutate; one profile row per cluster)
        val acceptedDf = folded.select(explode($"accepted").as("mention_id"),
          $"cluster_id", array().cast(state.schema("profile").dataType).as("profile"),
          lit(0).as("size"))
        // the non-seed rows plus the folded seed rows, minus the accepted
        // loners (whose stale singleton seed rows go with them), plus the
        // accepted rows
        state = state.filter($"mention_id" =!= $"cluster_id")
          .unionByName(folded.select($"cluster_id".as("mention_id"), $"cluster_id",
            $"profile", $"size"))
          .join(acceptedDf.select($"mention_id"), Seq("mention_id"), "left_anti")
          .unionByName(acceptedDf)
      }
      round += 1
    }

    state.select($"mention_id", $"cluster_id")
    }

    cc.join(taskAssigns.unionByName(bigAssigns), "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"cluster_id")
  }
}
