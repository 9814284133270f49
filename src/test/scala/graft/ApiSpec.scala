package graft

import graft.algos.{Traversal, Components}
import graft.core.Structure

/** Reference python-surface conveniences: predicates, BFS tree edges,
  * shortest-path wrappers. */
class ApiSpec extends SparkSpec {

  private def g = {
    val und = Structure.symmetrize(edgeDF(Seq((1L, 2L), (2L, 3L), (3L, 4L))))
    core.PropertyGraph(Structure.extractVertexList(und), und,
      core.GraphProperties(directed = false))
  }

  test("graph predicates") {
    val gr = g
    assert(gr.hasNode(3L) && !gr.hasNode(99L))
    assert(gr.hasEdge(1L, 2L) && !gr.hasEdge(1L, 4L))
    assert(!gr.hasSelfLoop)
    assert(gr.neighbors(2L).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("bfs tree edges form a spanning tree of the component") {
    val t = Traversal.bfsEdges(g, 1L).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(t.length == 3) // 4 vertices, 3 tree edges
    assert(t.contains((1L, 2L)))
  }

  test("shortest path walks back from target to source") {
    val gw = wGraphOf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0)))
    val path = Traversal.shortestPath(gw, 1L, 3L).collect()
      .sortBy(_.getLong(1)).map(_.getLong(2))
    assert(path.sameElements(Array(3L, 2L, 1L))) // pos 0 = target … source
    val len = Traversal.shortestPathLength(gw, 1L, 3L).first().getDouble(1)
    assert(len == 2.0)
  }

  test("is_bipartite: even cycle yes, odd cycle no, bipartite fixture yes") {
    val even = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), directed = false)
    assert(even.isBipartite)
    val odd = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)), directed = false)
    assert(!odd.isBipartite)
    // disconnected: even cycle + path is still bipartite
    val mixed = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (10L, 11L)),
      directed = false)
    assert(mixed.isBipartite)
  }

  test("is_multigraph and is_weighted predicates") {
    val multi = graphOf(Seq((1L, 2L), (1L, 2L), (2L, 3L)))
    assert(multi.isMultigraph)
    assert(!graphOf(Seq((1L, 2L))).isMultigraph)
    assert(wGraphOf(Seq((1L, 2L, 3.0))).isWeighted)
    assert(!graphOf(Seq((1L, 2L))).isWeighted)
  }

  test("connected_components dispatcher") {
    val c = Components.wcc(g).collect().map(_.getLong(1)).distinct
    assert(c.length == 1)
  }
}
