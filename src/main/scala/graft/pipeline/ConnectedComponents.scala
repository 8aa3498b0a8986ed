package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointStore

/** Stage 5a — DataFrame-based connected components over the candidate
  * graph (the reference's alternative clusterer
  * `connectedCandidatesGuavaGraphs` + `GraphAnalysis.connectedComponents`,
  * logic/MessagePassing.java:118-141, helper/GraphAnalysis.java:17-38 —
  * the paper's "connected component" baseline, and the component pre-pass
  * for greedy consistency clustering).
  *
  * Algorithm: union-find contraction per partition. Each round runs a
  * union-find over every task's edges (at most [[UnionFindEdges]] at a
  * time) and emits (node, min id of its local set); one aggregation per
  * node then takes the minimum of its local roots as its new label and
  * links every other root it saw to that minimum. Those links are the
  * next round's (much smaller) graph; the loop ends when no node saw two
  * distinct roots. Contraction happens inside the tasks, before any
  * exchange, so the round count depends on how edges are spread over
  * tasks, not on component diameter: one round when the input is a single
  * partition, two when the cross-partition links fit one union-find.
  * Skew (giant components) is handled upstream by the blocking valves and
  * downstream by component-size caps in the greedy stage.
  */
object ConnectedComponents {

  /** The most edges one task's union-find holds before it flushes its
    * (node, root) pairs and starts over, and the edges per partition the
    * loop aims at when it redistributes a round's links. Bounds a task's
    * union-find at 2 x this many nodes: about 14 MB of primitive arrays. */
  val UnionFindEdges: Int = 1 << 18

  /** Rounds between durable snapshots of the loop state (round 0 first). */
  private val DurableEvery = 5

  /** edges: (src, dst) undirected pair per surviving candidate (any
    * direction; duplicates, reversed copies and self-loops allowed; a null
    * endpoint leaves a self-loop on the other one). Returns
    * (id, component) for every node appearing in edges, including nodes
    * that appear only in self-loops; component = min node id reachable.
    *
    * One round: `mapPartitions` union-find over the round's edges, flushed
    * every [[UnionFindEdges]] edges (each flushed set is connected, so a
    * flush only costs contraction, never correctness) -> one aggregation
    * per node: label = min(roots), links = (label, r) for every other
    * root r -> every known node's label is composed with that step. The
    * round materializes one frame, state(id, label, rest): rows with an
    * id carry a node's current label, rows with a non-null rest carry the
    * next round's links (label, r) for r in rest. The number of links is
    * read from an `Observation` on that same materializing action, so the
    * convergence test costs no job; zero links ends the loop.
    *
    * Termination. Every node of round k+1's graph is a root of round k.
    * Links never join a node to itself, so from round 1 on every local set
    * holds an edge and its root is its minimum: the largest node of the
    * round's graph is never a root, and each round's graph has fewer
    * nodes than the one before, so the loop always ends. Faster in
    * practice: the links are coalesced into
    * ceil(links / [[UnionFindEdges]]) partitions, so once they fit one
    * union-find, the next round sees them all at once and is the last.
    * The `maxIter` guard only trips when the links stay above
    * [[UnionFindEdges]] for `maxIter` rounds (say, a path of millions of
    * edges whose ids are scattered over the partitions); it raises rather
    * than return wrong labels.
    *
    * Lineage is cut every round by `CheckpointStore.materialize`: into
    * executor-local blocks by default; with `durableDir`, every
    * [[DurableEvery]] rounds (round 0 included) the state is written to
    * `$durableDir/cc_labels_r$round` and read back — the durable path for
    * long-lived clusters with dynamic allocation, where executor-local
    * blocks can be lost (the Pipeline runner passes its stage work dir). */
  def run(edges: DataFrame, maxIter: Int = 50,
      durableDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    var pairs: Dataset[(Long, Long)] = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a").isNotNull)
      .as[(Long, Long)]
    var state: DataFrame = null
    var links = -1L
    var round = 0
    while (links != 0L && round < maxIter) {
      val step = pairs.mapPartitions(LocalUnionFind.roots).toDF("id", "root")
        .groupBy(col("id"))
        .agg(min(col("root")).as("label"), collect_set(col("root")).as("roots"))
        .select(col("id"), col("label"),
          when(size(col("roots")) > 1, array_remove(col("roots"), col("label")))
            .as("rest"))
      // round 0's nodes are all the nodes; later rounds see only the
      // contracted graph, so each known label moves to its step label and
      // the step's links ride along as id-less rows
      val next = if (state == null) step else state.filter(col("id").isNotNull)
        .join(step.select(col("id").as("label"), col("label").as("hop")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("hop"), col("label")).as("label"),
          lit(null).cast("array<bigint>").as("rest"))
        .unionByName(step.filter(col("rest").isNotNull)
          .select(lit(null).cast("bigint").as("id"), col("label"), col("rest")))
      val durable = durableDir.filter(_ => round % DurableEvery == 0)
        .map(_ + s"/cc_labels_r$round")
      // one label's rows side by side run-length encode: a smaller snapshot
      val (cut, seen) = CheckpointStore.materialize(
        if (durable.isEmpty) next else next.sortWithinPartitions(col("label")), durable,
        coalesce(sum(when(col("rest").isNotNull, size(col("rest")))), lit(0L)).as("links"))
      state = cut
      links = seen("links").asInstanceOf[Long]
      if (links > 0L) pairs = state.filter(col("rest").isNotNull)
        .select(col("label"), explode(col("rest")))
        .as[(Long, Long)]
        .coalesce(((links + UnionFindEdges - 1) / UnionFindEdges).toInt)
      round += 1
    }
    if (links != 0L)
      sys.error(s"ConnectedComponents: not converged after $maxIter rounds " +
        s"($links links left)")
    state.filter(col("id").isNotNull)
      .select(col("id"), col("label").as("component"))
  }

  /** (mention_id, name, weight, component_id) for every mention of the
    * candidate graph; singletons keep their own id as component. The
    * component pre-pass of greedy clustering. */
  def components(mentions: DataFrame, candidates: DataFrame,
      durableDir: Option[String] = None): DataFrame = {
    val comp = run(candidates.select(col("dst_id").as("src"), col("org_id").as("dst")),
      durableDir = durableDir)
    mentions
      .join(comp.withColumnRenamed("id", "mention_id"), Seq("mention_id"), "left")
      .select(col("mention_id"), col("name"), col("weight"),
        coalesce(col("component"), col("mention_id")).as("component_id"))
  }

  /** Full assignment for every mention: [[components]] plus the cluster
    * representative = max-weight member of the component (ties broken by
    * min mention_id; reference A-6, MessagePassing.java:138). */
  def assignments(mentions: DataFrame, candidates: DataFrame,
      durableDir: Option[String] = None): DataFrame = {
    val withComp = components(mentions, candidates, durableDir)
    val reps = withComp
      .groupBy(col("component_id"))
      .agg(min_by(col("mention_id"),
        struct((-col("weight")).as("w"), col("mention_id"))).as("cluster_id"))
    withComp.join(reps, "component_id")
      .select(col("mention_id"), col("name"), col("weight"),
        col("component_id"), col("cluster_id"))
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB CTEs computing the same assignment via a recursive reachability
    * closure (sound for oracle scale; the Spark side is the contraction
    * loop).
    * Append after Blocking.ctes. */
  val ctes: String = ctesOver("candidates")

  /** Same CTE chain parameterized on the (dst_id, org_id) edge source table
    * — reused by the upper-bound oracle over gold-restricted edges. */
  def ctesOver(edgesFrom: String): String =
    s"""cc_edges AS (
      |  SELECT DISTINCT least(dst_id, org_id) AS src,
      |                  greatest(dst_id, org_id) AS dst
      |  FROM $edgesFrom
      |),
      |cc_sym AS (
      |  SELECT src, dst FROM cc_edges
      |  UNION SELECT dst, src FROM cc_edges
      |),
      |cc_reach AS (
      |  WITH RECURSIVE r(a, b) AS (
      |    SELECT src, dst FROM cc_sym
      |    UNION
      |    SELECT r.a, e.dst FROM r JOIN cc_sym e ON r.b = e.src
      |  ) SELECT * FROM r
      |),
      |cc_labels AS (
      |  SELECT a AS id, least(a, min(b)) AS component FROM cc_reach GROUP BY a
      |),
      |assignments_pre AS (
      |  SELECT m.mention_id, m.name, m.weight,
      |         coalesce(l.component, m.mention_id) AS component_id
      |  FROM mentions m LEFT JOIN cc_labels l ON m.mention_id = l.id
      |),
      |cc_reps AS (
      |  SELECT component_id, mention_id AS cluster_id FROM (
      |    SELECT component_id, mention_id,
      |           row_number() OVER (PARTITION BY component_id
      |                              ORDER BY weight DESC, mention_id ASC) AS rn
      |    FROM assignments_pre) WHERE rn = 1
      |),
      |assignments AS (
      |  SELECT a.mention_id, a.name, a.weight, a.component_id, r.cluster_id
      |  FROM assignments_pre a JOIN cc_reps r USING (component_id)
      |)""".stripMargin
}

/** Union-find over one task's edges, keyed by node id in a primitive
  * open-addressing table (linear probing, load <= 1/2): no boxed keys, and
  * at most 2 x [[ConnectedComponents.UnionFindEdges]] nodes before a flush.
  * A set's root is always its minimum id (the larger root is linked under
  * the smaller one; paths are halved on every find). */
private final class LocalUnionFind {
  private var slots = new Array[Int](1024) // hash slot -> node index + 1, 0 = free
  private var ids = new Array[Long](512) // node index -> id
  private var parent = new Array[Int](512) // node index -> parent index
  private var n = 0

  def size: Int = n
  def id(i: Int): Long = ids(i)
  def rootId(i: Int): Long = ids(find(i))

  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    n = 0
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(indexOf(a))
    val rb = find(indexOf(b))
    if (ra != rb) {
      if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  private def slotOf(id: Long, mask: Int): Int =
    ((id * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

  private def indexOf(id: Long): Int = {
    if (2 * (n + 1) > slots.length) grow()
    val mask = slots.length - 1
    var s = slotOf(id, mask)
    while (slots(s) != 0 && ids(slots(s) - 1) != id) s = (s + 1) & mask
    if (slots(s) != 0) slots(s) - 1
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      slots(s) = n + 1
      n += 1
      n - 1
    }
  }

  private def grow(): Unit = {
    slots = new Array[Int](2 * slots.length)
    val mask = slots.length - 1
    var i = 0
    while (i < n) {
      var s = slotOf(ids(i), mask)
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) {
      parent(i) = parent(parent(i))
      i = parent(i)
    }
    i
  }
}

private object LocalUnionFind {
  /** (node, min id of its local set) for every node of a partition's
    * edges, flushed every [[ConnectedComponents.UnionFindEdges]] edges. */
  def roots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val uf = new LocalUnionFind
      private var i = 0
      def hasNext: Boolean = i < uf.size || (edges.hasNext && { fill(); true })
      def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException
        val r = (uf.id(i), uf.rootId(i))
        i += 1
        r
      }
      private def fill(): Unit = {
        uf.clear()
        i = 0
        var e = 0
        while (e < ConnectedComponents.UnionFindEdges && edges.hasNext) {
          val (a, b) = edges.next()
          uf.union(a, b)
          e += 1
        }
      }
    }
}
