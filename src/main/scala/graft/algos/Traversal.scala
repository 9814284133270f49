package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Gr}
import graft.prims.{Hint, Regime}

/** BFS / SSSP / k-hop — level-synchronous frontier expansion.
  *
  * Reference: `traversal/bfs_impl.cuh` (frontier buckets, direction
  * optimization), `traversal/sssp_impl.cuh` (near-far relaxation),
  * python surface `traversal/bfs.py:69`, `traversal/sssp.py:108`.
  *
  * Spark realization: the frontier is a DataFrame; one round = frontier ⋈
  * edges → min-reduce by dst → anti-join/merge with settled state. Each
  * round is a bounded shuffle on vertex id; `localCheckpoint` truncates
  * lineage so depth-D traversals stay O(D) jobs, not O(D²) plan replay.
  * Direction-optimizing BFS (top-down/bottom-up) is unnecessary here: the
  * bottom-up trick saves random memory probes on CPUs/GPUs, while in Spark
  * the cost model is shuffle volume — frontier⋈edges already only moves
  * frontier-incident edges.
  */
object Traversal {
  import Gr._

  /** BFS distances + predecessors from a single source.
    * @return DataFrame(id, distance, predecessor); unreached vertices absent
    *         (reference marks them with sentinel; callers outer-join). */
  def bfs(g: PropertyGraph, source: Long, depthLimit: Int = Int.MaxValue): DataFrame =
    // one regime scope for the whole traversal: the frontier join is
    // Hint.state-hinted, the settled anti-join is V-row-sized
    Regime.scope(g.spark, g.numVertices) {
    val e = g.edges.select(SRC, DST).mat
    var settled = g.spark.range(1).select(lit(source).as(ID),
      lit(0).as("distance"), lit(-1L).as("predecessor")).mat
    var frontier = settled.select(ID)
    var depth = 0
    var frontierCount = 1L
    var chainLen = 0
    while (frontierCount > 0 && depth < depthLimit) {
      depth += 1
      // frontier size rides the materialization job; settled stays a lazy
      // union of the per-depth checkpointed frames
      val (next, nNext) = graft.prims.Iterate.materializeCount(
        e.join(Hint.state(frontier.withColumnRenamed(ID, SRC), frontierCount), SRC)
          .groupBy(col(DST).as(ID)).agg(min(SRC).as("predecessor"))
          .join(settled.select(ID), Seq(ID), "left_anti")
          .withColumn("distance", lit(depth))
          .select(ID, "distance", "predecessor"),
        count(lit(1)), _.count())
      frontierCount = nNext
      if (frontierCount > 0) {
        settled = settled.union(next)
        chainLen += 1
        // compact the lazy union chain periodically: each member is
        // checkpointed, but the per-level anti-join replans the whole
        // chain — O(depth²) cumulative planning on high-diameter graphs
        // (line graphs) without this re-materialization
        if (chainLen >= CompactEvery) { settled = settled.mat; chainLen = 0 }
        frontier = next.select(ID)
      }
    }
    settled
    }

  /** Union-chain compaction period for accumulator frames in level loops —
    * long enough that the extra checkpoint job is amortized, short enough
    * that plan size stays O(CompactEvery) per round. */
  private val CompactEvery = 8

  /** Single-source shortest paths over non-negative weights — Bellman-Ford
    * style rounds (every round relaxes all edges out of improved vertices),
    * the DataFrame analogue of the reference's near-far bucketing. Converges
    * in ≤ (longest shortest path hop count) rounds.
    * @param cutoff stop exploring beyond this distance (reference `sssp.py` cutoff). */
  def sssp(g: PropertyGraph, source: Long, cutoff: Double = Double.PositiveInfinity,
           maxRounds: Int = 200): DataFrame = ssspWithRounds(g, source, cutoff, maxRounds)._1

  /** SSSP also returning the number of relaxation rounds until fixpoint, so
    * oracle queries can assert convergence within the oracle's unrolled
    * round budget. */
  def ssspWithRounds(g: PropertyGraph, source: Long, cutoff: Double = Double.PositiveInfinity,
           maxRounds: Int = 200): (DataFrame, Int) =
    // one regime scope for setup and rounds: the relaxation join is
    // Hint.state-hinted, the merge and improvement joins are V-row-sized
    Regime.scope(g.spark, g.numVertices) {
    val e = g.weightedEdges.select(SRC, DST, WEIGHT).mat
    var dist = g.spark.range(1).select(lit(source).as(ID),
      lit(0.0).as("distance"), lit(-1L).as("predecessor")).mat
    // improved = vertices whose distance changed last round (the frontier)
    var improved = dist
    var round = 0
    var nImproved = 1L
    while (nImproved > 0 && round < maxRounds) {
      round += 1
      val cand = e.join(Hint.state(improved.select(col(ID).as(SRC), col("distance").as("d_src")), nImproved), SRC)
        .select(col(DST).as(ID), (col("d_src") + col(WEIGHT)).as("distance"), col(SRC).as("predecessor"))
        .filter(col("distance") <= cutoff)
      // min per dst, deterministic predecessor tie-break via struct ordering
      val best = cand.groupBy(ID)
        .agg(min(struct(col("distance"), col("predecessor"))).as("s"))
        .select(col(ID), col("s.distance").as("distance"), col("s.predecessor").as("predecessor"))
      val next = dist.select(ID, "distance", "predecessor").union(best)
        .groupBy(ID).agg(min(struct(col("distance"), col("predecessor"))).as("s"))
        .select(col(ID), col("s.distance").as("distance"), col("s.predecessor").as("predecessor"))
        .mat
      val (imp, nI) = graft.prims.Iterate.materializeCount(
        next.join(dist.withColumnRenamed("distance", "d_old")
            .select(ID, "d_old"), Seq(ID), "left")
          .filter(col("d_old").isNull || col("distance") < col("d_old"))
          .select(ID, "distance", "predecessor"),
        count(lit(1)), _.count())
      nImproved = nI
      dist = next
      improved = imp
    }
    (dist, round)
    }

  /** Keep only reachable rows (`traversal/sssp.py:233 filter_unreachable`). */
  def filterUnreachable(df: DataFrame): DataFrame =
    df.filter(!col("distance").isNull && !col("distance").isNaN)

  /** BFS tree edges (reference `bfs_edges` `traversal/bfs.py:199`):
    * (predecessor → vertex) rows of the BFS forest, root rows dropped. */
  def bfsEdges(g: PropertyGraph, source: Long, depthLimit: Int = Int.MaxValue): DataFrame =
    bfs(g, source, depthLimit)
      .filter(col("predecessor") =!= -1L)
      .select(col("predecessor").as(SRC), col(ID).as(DST))

  /** `shortest_path_length` (reference `sssp.py:289`): distance to one
    * target, or all distances when target < 0. */
  def shortestPathLength(g: PropertyGraph, source: Long, target: Long = -1L): DataFrame = {
    val d = sssp(g, source).select(ID, "distance")
    if (target < 0) d else d.filter(col(ID) === target)
  }

  /** `shortest_path` (reference `sssp.py:263`): the vertex sequence from
    * source to target, one row per hop position, by predecessor walk-back. */
  def shortestPath(g: PropertyGraph, source: Long, target: Long): DataFrame = {
    val res = sssp(g, source).mat
    graft.algos.MultiTraversal.extractBfsPaths(
      res, res.filter(col(ID) === target).select(ID),
      maxDepth = res.count().toInt.max(1))
  }

  /** Path-cost retrieval (reference `utilities/path_retrieval.py:12`
    * `get_traversed_cost`): sum an arbitrary per-edge value along each
    * vertex's predecessor path back to the BFS/SSSP source. Level-
    * synchronous propagation down the (deterministic, min-predecessor) BFS
    * tree: one frontier-sized join per depth level — info(v) =
    * info(pred(v)) + value(pred(v)→v) — never a per-path explosion, so at
    * scale the cost is depth × one broadcastable join. Unreached vertices
    * are absent, matching [[bfs]]'s output contract (the reference marks
    * them with the dtype max; callers outer-join + `filterUnreachable`).
    * @param bfsResult (id, distance, predecessor) rows from [[bfs]]/[[sssp]]
    * @param weightedEdges (src, dst, value) — value summed along the tree
    * @return DataFrame(id, info). */
  def traversedCost(bfsResult: DataFrame, weightedEdges: DataFrame): DataFrame = {
    val maxD = bfsResult.agg(max("distance")).first().get(0) match {
      case i: java.lang.Integer => i.toInt
      case l: java.lang.Long => l.toInt
      case other => other.toString.toDouble.toInt
    }
    val w = weightedEdges.select(col(SRC).as("predecessor"), col(DST).as(ID),
      col(weightedEdges.columns(2)).as("_val")).mat
    var prev = bfsResult.filter(col("distance") === 0)
      .select(col(ID), lit(0.0).as("info")).mat
    val acc = scala.collection.mutable.ArrayBuffer(prev)
    for (d <- 1 to maxD) {
      val lvl = bfsResult.filter(col("distance") === d).select(col(ID), col("predecessor"))
      // predecessors of level d live exactly in level d−1: join the
      // frontier against the PREVIOUS level only, never the accumulated
      // table — at scale the accumulated side is O(V) and reshuffling it
      // every level would be O(V·depth)
      prev = lvl
        .join(prev.select(col(ID).as("predecessor"), col("info").as("_pi")), "predecessor")
        .join(w, Seq("predecessor", ID))
        .select(col(ID), (col("_pi") + col("_val")).as("info"))
        .mat
      acc += prev
    }
    acc.reduce(_ union _)
  }
}
