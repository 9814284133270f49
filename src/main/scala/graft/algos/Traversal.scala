package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Gr}
import graft.prims.{Hint, Iterate, Regime, Release}
import graft.prims.Mat._

/** BFS / SSSP / k-hop — level-synchronous frontier expansion.
  *
  * Reference: `traversal/bfs_impl.cuh` (frontier buckets, direction
  * optimization), `traversal/sssp_impl.cuh` (near-far relaxation),
  * python surface `traversal/bfs.py:69`, `traversal/sssp.py:108`.
  *
  * Spark realization: one frontier loop on the fixpoint driver serves
  * BFS, SSSP and their batched twins in [[MultiTraversal]] ([[bfsLoop]],
  * [[bellmanFord]]). The loop state is the whole distance table with the
  * rows reached or improved in the last round marked; one round = marked
  * frontier ⋈ edges, reduced by vertex id and merged into the table. Each
  * round is materialized (packed row chunks) and the previous one freed,
  * so depth-D traversals stay O(D) jobs, not O(D²) plan replay.
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
    bfsLoop(g, g.spark.range(1).select(lit(source).as(ID)), Nil, depthLimit)._1

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
    bellmanFord(g, g.spark.range(1).select(lit(source).as(ID)), Nil, maxRounds, cutoff)

  /** Marks the rows a round added or improved in a frontier loop's state. */
  private[algos] val Fresh = "_fresh"

  /** The frontier loop's metric and stop count: rows marked [[Fresh]]. */
  private[algos] def freshRows: Column = sum(when(col(Fresh), 1L).otherwise(0L))

  /** Rows of a state keyed by `nKeys` traversals over `nV` vertices, or -1
    * when that bound does not clear the broadcast gate ([[Regime]]). */
  private[algos] def stateRows(nKeys: Long, nV: Long): Long =
    if (nV > 0 && nKeys > 0 && nKeys <= Regime.BroadcastRows / nV) nKeys * nV else -1L

  /** Level-synchronous BFS, one traversal per row of `origins` (`keys` +
    * `id`; `keys` is Nil for a single source). A round joins the frontier
    * to the edges, keeps the minimum source per reached vertex (the
    * deterministic min-predecessor tie-break) and drops the vertices the
    * state already holds; the rest enter at distance round + 1.
    * @return (keys…, id, distance: Int, predecessor), rounds run. */
  private[algos] def bfsLoop(g: PropertyGraph, origins: DataFrame, keys: Seq[String],
                             maxRounds: Int): (DataFrame, Int) = {
    val k = keys.map(col)
    frontierLoop(g, g.edges.select(SRC, DST), origins, keys, lit(0), maxRounds) {
      (e, state, frontier, r) =>
        val reached = e.join(frontier, SRC)
          .groupBy(k :+ col(DST).as(ID): _*).agg(min(SRC).as("predecessor"))
          .join(state.select(k :+ col(ID): _*), keys :+ ID, "left_anti")
          .select(k :+ col(ID) :+ lit(r + 1).as("distance") :+ col("predecessor") :+
            lit(true).as(Fresh): _*)
        state.withColumn(Fresh, lit(false)).union(reached)
    }
  }

  /** Batched Bellman-Ford over non-negative weights, keyed like [[bfsLoop]].
    * A round relaxes the edges out of the rows improved last round and
    * merges the candidates into the table with ONE groupBy on (keys…, id):
    * `min(struct(distance, predecessor))` (min-predecessor tie-break) and
    * the old distance, so a row is marked when it is new or strictly
    * shorter. Candidates beyond `cutoff` are dropped.
    * @return (keys…, id, distance: Double, predecessor), rounds run. */
  private[algos] def bellmanFord(g: PropertyGraph, origins: DataFrame, keys: Seq[String],
                                 maxRounds: Int,
                                 cutoff: Double = Double.PositiveInfinity): (DataFrame, Int) = {
    val k = keys.map(col)
    frontierLoop(g, g.weightedEdges.select(SRC, DST, WEIGHT), origins, keys, lit(0.0),
        maxRounds) { (e, state, frontier, _) =>
      val cand = e.join(frontier, SRC)
        .select(k :+ col(DST).as(ID) :+ (col("d_src") + col(WEIGHT)).as("distance") :+
          col(SRC).as("predecessor") :+ lit(null).cast("double").as("d_old"): _*)
        .filter(col("distance") <= cutoff)
      state.select(k :+ col(ID) :+ col("distance") :+ col("predecessor") :+
          col("distance").as("d_old"): _*)
        .union(cand)
        .groupBy(k :+ col(ID): _*)
        .agg(min(struct(col("distance"), col("predecessor"))).as("s"), min("d_old").as("d_old"))
        .select(k :+ col(ID) :+ col("s.distance").as("distance") :+
          col("s.predecessor").as("predecessor") :+
          (col("d_old").isNull || col("s.distance") < col("d_old")).as(Fresh): _*)
    }
  }

  /** The frontier loop under [[bfsLoop]] and [[bellmanFord]], on
    * [[Iterate.fixpoint]]. The state is the whole distance table
    * (keys…, id, distance, predecessor, [[Fresh]]) with the rows the last
    * round added or improved marked; it starts as `origins` at distance
    * `zero`. Each round is `round(edges, state, frontier, round)`, where
    * the frontier (keys…, src, d_src) is the marked rows, hinted by the
    * previous round's marked count. The loop stops on a round that marks
    * nothing, or after `maxRounds`.
    * @return the state without the mark, rounds run (the last, empty
    *         round included). */
  private def frontierLoop(g: PropertyGraph, edges: DataFrame, origins: DataFrame,
                           keys: Seq[String], zero: Column, maxRounds: Int)(
      round: (DataFrame, DataFrame, DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    val k = keys.map(col)
    val init = Iterate.materialize(origins.select(k :+ col(ID) :+ zero.as("distance") :+
      lit(-1L).as("predecessor") :+ lit(true).as(Fresh): _*))
    // a keyless loop is one traversal from its one origin
    val nOrigins = if (keys.isEmpty) 1L else init.count()
    val rows = stateRows(nOrigins, g.numVertices)
    // one regime scope for setup and rounds: the frontier join is
    // Hint.state-hinted, every other join and aggregate is state-sized
    Regime.scope(g.spark, rows) {
      val e = Iterate.materialize(edges)
      var nFrontier = nOrigins
      val step = { (state: DataFrame, r: Int) =>
        val frontier = state.filter(col(Fresh))
          .select(k :+ col(ID).as(SRC) :+ col("distance").as("d_src"): _*)
        round(e, state, Hint.state(frontier, nFrontier), r)
      }
      val (state, rounds, _) = Iterate.fixpoint(init, maxRounds, rows)(step, Some(freshRows),
        { (_, _, n) => nFrontier = n; n == 0 })
      Release.free(e)
      (state.drop(Fresh), rounds)
    }
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
    val res = sssp(g, source)
    val path = MultiTraversal.extractBfsPaths(res, res.filter(col(ID) === target).select(ID),
      maxDepth = res.count().toInt.max(1))
    Release.free(res)
    path
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
    Release.free(w)
    acc.reduce(_ union _)
  }
}
