package graft.engine

import scala.collection.mutable

/** The greedy consistency clusterer (MessagePassing.clusterCandidates,
  * logic/MessagePassing.java:150-205), confined to one connected component
  * — clustering never crosses REF_REF components, so running it
  * per-component inside `flatMapGroups` is semantically identical to the
  * reference's whole-graph pass and embarrassingly parallel across
  * components.
  *
  * Order: the reference shuffles randomly then sorts by (token count asc,
  * abbreviated-token count asc, weight desc) — the shuffle only perturbs
  * ties and its own experiment measures F1 std ~2.7e-4 over 30 runs
  * (MainSortSensitivity.java). We replace the random tie-break with the
  * mention id for reproducibility, and use the same total order for BFS
  * neighbor visits (the reference iterates a HashSet there).
  *
  * Giant components (SURVEY.md §7.5): rare shared tokens (e.g. nicknames)
  * pass the relative blocking threshold and form cross-family hubs that
  * glue most refs into one component; plain BFS there is
  * O(edges x cluster-profile) and intractable. The giant path lives in
  * [[graft.pipeline.GreedyClustering]]: it applies the reference's own
  * remedy — the stricter 2-common-token edge condition — to cluster
  * family cores with [[cluster]], then chains and attaches the remaining
  * weak-edge-only refs (nickname/initial forms) through the same
  * consistency engine, all in the one task that holds the component.
  * Small components run [[cluster]] as is: it is the one BFS entry point
  * of both routes.
  */
object Greedy {

  final case class Ref(id: Long, name: String, weight: Long, toks: Array[Tok])

  private type Prio = (Int, Int, Long, Long)
  private def priority(r: Ref): Prio =
    (r.toks.length, r.toks.count(_.isAbbr), -r.weight, r.id)

  /** Exact reference greedy BFS. Returns (mention_id, cluster_id = seed)
    * for every ref, and each cluster's final profile keyed by its seed
    * (the giant-component attachment rounds test loners against them). */
  def cluster(refs: Seq[Ref], edges: Seq[(Long, Long)], h: Hierarchy)
      : (Seq[(Long, Long)], mutable.HashMap[Long, ClusterProfile]) = {
    val byId = refs.map(r => r.id -> r).toMap
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    for ((a, b) <- edges if a != b && byId.contains(a) && byId.contains(b)) {
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }

    val sorted = refs.filter(r => adj.contains(r.id)).sortBy(priority)
    val prioOf = sorted.iterator.zipWithIndex.map { case (r, i) => r.id -> i }.toMap
    val adjSorted: Map[Long, IndexedSeq[Long]] = adj.iterator.map { case (id, ns) =>
      id -> ns.distinct.sortBy(prioOf).toIndexedSeq
    }.toMap

    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    val profiles = mutable.HashMap.empty[Long, ClusterProfile]
    val visited = mutable.HashSet.empty[Long]

    for (seed <- sorted if !visited.contains(seed.id)) {
      visited += seed.id
      out += seed.id -> seed.id
      val profile = ClusterProfile.fromToks(seed.toks.toSeq)
      profiles(seed.id) = profile
      val queue = mutable.Queue(seed)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        for (adjId <- adjSorted.getOrElse(u.id, IndexedSeq.empty) if !visited.contains(adjId)) {
          val cand = byId(adjId)
          val result = profile.matchRef(h, cand.toks.toSeq)
          val consistent = result.isConsistent || result.canBecomeConsistent
          if (consistent) {
            visited += adjId
            out += adjId -> seed.id
            profile.merge(result)
            queue += cand
          }
        }
      }
    }
    // singletons (no candidate edges): own cluster
    for (r <- refs if !adj.contains(r.id)) {
      out += r.id -> r.id
      profiles.getOrElseUpdate(r.id, ClusterProfile.fromToks(r.toks.toSeq))
    }
    (out.toSeq, profiles)
  }
}
