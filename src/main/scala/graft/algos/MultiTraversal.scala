package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Gr}
import graft.prims.{Iterate, Release}
import graft.prims.Mat._

/** Batched traversal surfaces: multi-source BFS, origin-destination
  * shortest distances, and BFS path extraction.
  *
  * Reference: `traversal/ms_bfs.py:97,172` (concurrent/multi-source BFS),
  * `algorithms.hpp:1244` + `traversal/od_shortest_distances_impl.cuh`,
  * `algorithms.hpp:1167` + `traversal/extract_bfs_paths_impl.cuh`.
  *
  * The batching trick is one extra key column: frontier state is keyed by
  * (source, vertex) instead of vertex, so B concurrent traversals cost the
  * same number of shuffles as one (each round's join moves B× rows, which
  * is exactly the reference's batched-frontier layout — SURVEY §2.3). The
  * rounds are the loops under BFS and SSSP ([[Traversal.bfsLoop]],
  * [[Traversal.bellmanFord]]), keyed by `source`.
  */
object MultiTraversal {
  import Gr._

  /** Multi-source BFS: one BFS per row of `sources` (column `source`),
    * batched in a single loop. Output (source, id, distance, predecessor);
    * predecessor tie-break = min, as in Traversal.bfs. */
  def msBfs(g: PropertyGraph, sources: DataFrame, depthLimit: Int = Int.MaxValue): DataFrame =
    msBfsWithRounds(g, sources, depthLimit)._1

  def msBfsWithRounds(g: PropertyGraph, sources: DataFrame,
                      depthLimit: Int = Int.MaxValue): (DataFrame, Int) =
    Traversal.bfsLoop(g, sources.select(col("source"), col("source").as(ID)), Seq("source"),
      depthLimit)

  /** Batched multi-seed ego graphs (reference `community/egonet.py:30`
    * batched_ego_graphs): ONE radius-bounded multi-source BFS settles every
    * seed's neighborhood in the same jobs (no per-seed loop), then two
    * keyed joins induce each seed's edge list, annotated with both
    * endpoints' hop distances from that seed.
    * Output (seed, src, dst, src_dist, dst_dist). */
  def batchedEgo(g: PropertyGraph, seeds: DataFrame, radius: Int): DataFrame = {
    val reach = msBfs(g, seeds.select(col(seeds.columns.head).as("source")),
        depthLimit = radius)
      .select(col("source").as("seed"), col(ID), col("distance"))
    g.edges.select(SRC, DST)
      .join(reach.select(col("seed"), col(ID).as(SRC), col("distance").as("src_dist")), SRC)
      .join(reach.select(col("seed"), col(ID).as(DST), col("distance").as("dst_dist")),
        Seq("seed", DST))
      .select(col("seed"), col(SRC), col(DST),
        col("src_dist").cast("long").as("src_dist"),
        col("dst_dist").cast("long").as("dst_dist"))
  }

  /** Origin-destination shortest hop distances: multi-source BFS from the
    * origins, semi-joined to the destination list.
    * Output (origin, destination, distance). */
  def odShortestDistances(g: PropertyGraph, origins: DataFrame, dests: DataFrame,
                          depthLimit: Int = Int.MaxValue): DataFrame = {
    val (bfs, _) = msBfsWithRounds(g, origins.select(col(origins.columns.head).as("source")),
      depthLimit)
    bfs.join(dests.select(col(dests.columns.head).as(ID)), ID)
      .select(col("source").as("origin"), col(ID).as("destination"),
        col("distance").cast("long").as("distance"))
  }

  /** WEIGHTED origin-destination shortest distances — the reference's
    * `od_shortest_distances` semantics (`algorithms.hpp:1244`): a batched
    * Bellman-Ford keyed by origin, then a semi-join onto the destination
    * list. Returns also the round count for oracle budget asserts. */
  def odShortestDistancesWeighted(g: PropertyGraph, origins: DataFrame, dests: DataFrame,
                                  maxRounds: Int = 200): (DataFrame, Int) = {
    val o = col(origins.columns.head)
    val (dist, rounds) = Traversal.bellmanFord(g, origins.select(o.as("source"), o.as(ID)),
      Seq("source"), maxRounds)
    val res = dist.join(dests.select(col(dests.columns.head).as(ID)), ID)
      .select(col("source").as("origin"), col(ID).as("destination"),
        col("distance"))
    (res, rounds)
  }

  /** Reconstruct root-to-destination paths from a BFS predecessor table
    * (id, distance, predecessor). Output one row per path position:
    * (destination, pos, vertex) with pos 0 at the destination walking back
    * to the source — k rounds of self-join on the predecessor column. */
  def extractBfsPaths(bfs: DataFrame, dests: DataFrame, maxDepth: Int): DataFrame = {
    import Traversal.Fresh
    val pred = bfs.select(col(ID), col("predecessor")).mat
    // state: every path row so far, the last walked position marked
    val init = dests.select(col(dests.columns.head).as("destination"))
      .join(pred, col("destination") === col(ID))
      .select(col("destination"), lit(0).as("pos"), col(ID).as("vertex"),
        col("predecessor"), lit(true).as(Fresh))
      .mat
    val (paths, _, _) = Iterate.fixpoint(init, maxDepth, -1L)({ (cur, p) =>
      val hop = cur.filter(col(Fresh) && col("predecessor") =!= -1L)
        .select(col("destination"), col("predecessor").as("vertex_next"))
        .join(pred, col("vertex_next") === col(ID))
        .select(col("destination"), lit(p + 1).as("pos"), col(ID).as("vertex"),
          col("predecessor"), lit(true).as(Fresh))
      cur.withColumn(Fresh, lit(false)).union(hop)
    }, Some(Traversal.freshRows), (_, _, n) => n == 0)
    Release.free(pred)
    paths.select(col("destination"), col("pos").cast("long").as("pos"), col("vertex"))
  }
}
