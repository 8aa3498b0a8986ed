package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointStore.materialize
import graft.engine._

/** Stage 5b — greedy consistency clustering refining the candidate graph
  * (the reference's production clusterer, MessagePassing.java:150-205),
  * run per connected component via typed cogroup.
  *
  * Two-level parallel design:
  *  - components of the (weak) candidate graph up to `maxComponentSize`
  *    run the EXACT reference BFS per component (embarrassingly parallel
  *    across components);
  *  - oversized components (glued by rare-shared-token hubs, e.g.
  *    nicknames — SURVEY.md §7.5) run a three-phase parallel scheme:
  *    (1) STRONG-edge (2-common-token) sub-components are each clustered
  *    with the exact engine in parallel; (2) refs left in singleton
  *    clusters (weak-edge-only forms: nicknames, single initials,
  *    misspellings) form their own weak-edge sub-components, each again
  *    clustered with the exact engine — so matching loner pairs/chains
  *    merge exactly as the reference BFS would; (3) remaining singletons
  *    are attached to adjacent multi-ref clusters in up to `AttachRounds`
  *    parallel rounds, testing the same consistency engine against
  *    serialized cluster profiles in the reference's priority order and
  *    folding each round's attachments back into the profiles so later
  *    rounds ride earlier ones. The batching of profile mutation per round
  *    (instead of per ref) is the one documented deviation that makes the
  *    giant path shuffle-parallel at any scale; small components keep
  *    bit-exact reference semantics.
  *
  * One routine runs every exact clustering: `exactCluster` cogroups
  * mentions and edges by group and runs [[graft.engine.Greedy.cluster]] on
  * each group. The small path groups by component. Phases (1) and (2)
  * share one sub-component routine: connected components over an edge
  * subset label the groups, a mention without a group is its own, and
  * phase (2) first drops the groups above `LonerComponentCap`.
  *
  * Sizes ride the frames they describe (`comp_size` on `cc`, a cluster's
  * `size` on its seed row), and control flow reads observations, not extra
  * jobs: whether any component exceeds `maxComponentSize` is the
  * `max(comp_size)` observed on the `cc` cut, and whether an attachment
  * round proposed anything is the row count observed on its proposals' cut
  * ([[graft.checkpoint.CheckpointStore.materialize]], as in [[ConnectedComponents.run]]).
  */
object GreedyClustering {

  final case class TokRow(mention_id: Long, token: String, pos: Int,
      is_abbr: Boolean, is_before_dot: Boolean, name_part: String)
  final case class MentionRow(mention_id: Long, name: String, weight: Long,
      component_id: Long, toks: Seq[TokRow])
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

  /** Exact reference BFS per component via typed cogroup; emits each ref's
    * cluster and, on the seed row, the cluster's final profile and size. */
  private def exactCluster(ms: Dataset[MentionRow], es: Dataset[EdgeRow],
      hier: String): Dataset[CoreOut] = {
    import ms.sparkSession.implicits._
    ms.groupByKey(_.component_id)
      .cogroup(es.groupByKey(_.component_id)) { (_, mi, ei) =>
        val refs = mi.map(r => Greedy.Ref(r.mention_id, r.name, r.weight, toToks(r.toks))).toSeq
        val (assign, profiles) =
          Greedy.cluster(refs, ei.map(e => (e.src, e.dst)).toSeq, hierOf(hier))
        val sizes = assign.groupMapReduce(_._2)(_ => 1)(_ + _)
        assign.iterator.map { case (id, c) =>
          if (id == c) CoreOut(id, c, toEntryRows(profiles(c)), sizes(c))
          else CoreOut(id, c, Seq.empty, 0)
        }
      }
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
      /** When set, each attachment round's state (assignments, with the
        * profiles on seed rows) and the connected-component loops (`cc`,
        * `cc_strong`, `cc_loner`) are snapshotted under it as parquet, not
        * in executor-local blocks — the durable path for long-lived
        * clusters with dynamic allocation. Every cut goes through
        * CheckpointStore.materialize (no inference job). */
      durableDir: Option[String] = None,
      /** Instrumentation valve (`Bench` and erbench's traced chain): receives
        * (phase, seconds) for the stage's internal phases — cc / prep / small /
        * core / loner / attach. When set, the small-component output is additionally
        * localCheckpoint'ed so its wall time lands in its own phase
        * instead of the caller's final action; values are identical
        * either way. None (the default) changes nothing. */
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
    // would buffer a giant component in one task, see Valves.capGroups)
    val (cc, ccObs) = phase("cc") {
      val comps = ccDf
        .map(_.select($"mention_id", $"name", $"weight", $"component_id"))
        .getOrElse(ConnectedComponents.components(mentions, cand, durableDir.map(_ + "/cc")))
      materialize(comps.join(comps.groupBy($"component_id").count()
          .withColumnRenamed("count", "comp_size"), "component_id"),
        None, coalesce(max($"comp_size"), lit(0L)).as("max_size"))
    }
    val giant = ccObs("max_size").asInstanceOf[Long] > maxComponentSize
    // a cut pays off only when both the small and the giant path read it
    def cutIfGiant(df: DataFrame): DataFrame = if (giant) df.localCheckpoint() else df

    val mentionToks = phase("prep")(cutIfGiant(tokens
      .groupBy($"mention_id")
      .agg(sort_array(collect_list(struct(
        $"mention_id", $"token", $"pos", $"is_abbr", $"is_before_dot", $"name_part"
      ))).as("toks"))
      .join(cc, "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"comp_size", $"toks")))

    val compOf = cc.select($"mention_id".as("src"), $"component_id", $"comp_size")
    val edges = phase("prep")(cutIfGiant(cand
      .groupBy(least($"dst_id", $"org_id").as("src"),
        greatest($"dst_id", $"org_id").as("dst"))
      .agg(max($"common_cnt").cast("int").as("common_cnt"))
      .join(compOf, "src")
      .select($"component_id", $"src", $"dst", $"common_cnt", $"comp_size")))

    // ---- exact reference path for normally-sized components
    val isSmall = $"comp_size" <= maxComponentSize
    val small = exactCluster(mentionToks.filter(isSmall).as[MentionRow],
      edges.filter(isSmall).as[EdgeRow], hierarchy)
      .toDF().select($"mention_id", $"cluster_id")
    // instrumented runs force the small path here so its wall time lands
    // in the "small" phase; the production path stays lazy (one less
    // materialization — the caller's action computes it in-stream)
    val smallAssigns =
      if (phaseSink.isDefined) phase("small")(small.localCheckpoint()) else small

    // ---- distributed giant-component path (skipped entirely when no
    // component exceeds the cap — the common case at moderate scale)
    val bigAssigns: DataFrame = if (!giant) spark.emptyDataset[AssignRow].toDF()
    else {
    val bigMentions = mentionToks.filter(!isSmall).as[MentionRow]
    val bigEdges = edges.filter(!isSmall)

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
            coalesce($"group", $"mention_id").as("component_id"), $"toks")
          .as[MentionRow],
        sub.join(groups.withColumnRenamed("mention_id", "src"), "src")
          .select($"group".as("component_id"), $"src", $"dst", $"common_cnt")
          .as[EdgeRow],
        hierarchy).toDF().localCheckpoint()

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
          val h = hierOf(hierarchy)
          val toks = toToks(rows.head._1.toks).toSeq
          rows.map(_._2).sortBy(_.prio).find { c =>
            val res = fromEntryRows(c.profile).matchRef(h, toks)
            res.isConsistent || res.canBecomeConsistent
          }.iterator.map(c => AssignRow(id, c.cluster_id))
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
                val h = hierOf(hierarchy)
                val prof = fromEntryRows(p.profile)
                val accepted = Seq.newBuilder[Long]
                for (a <- as.toSeq.sortBy(x => prioOfToks(x.toks, x.weight, x.mention_id))) {
                  val res = prof.matchRef(h, toToks(a.toks).toSeq)
                  if (res.isConsistent || res.canBecomeConsistent) {
                    prof.merge(res)
                    accepted += a.mention_id
                  }
                }
                val acc = accepted.result()
                FoldOut(k, toEntryRows(prof), acc, p.size + acc.length)
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

    cc.join(smallAssigns.unionByName(bigAssigns), "mention_id")
      .select($"mention_id", $"name", $"weight", $"component_id", $"cluster_id")
  }
}
