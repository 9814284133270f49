package graft

/** Plain-Scala core-number peel, the reference the Spark core-number
  * kernels are checked against. It works on the simple graph: self-loops
  * and duplicate edges are dropped. While vertices remain, every vertex of
  * degree ≤ k is deleted with core number k, taking all its incident edges
  * (both directions) with it; k rises when there is none. `degreeType`
  * picks the degree: "bidirectional" counts distinct neighbours in either
  * direction, "incoming"/"outgoing" count in-/out-neighbours of the
  * directed graph (reference `cores/core_number.py:10`). */
object CorePeel {
  def apply(vertices: Seq[Long], edges: Seq[(Long, Long)],
            degreeType: String): Map[Long, Long] = {
    val simple = edges.filter { case (a, b) => a != b }.distinct
    // (v, u): u counts toward v's degree
    val counted = degreeType match {
      case "bidirectional" => (simple ++ simple.map(_.swap)).distinct
      case "incoming" => simple.map(_.swap)
      case "outgoing" => simple
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var live = vertices.toSet
    var arcs = counted
    var k = 0L
    while (live.nonEmpty) {
      val deg = arcs.groupBy(_._1).map { case (v, us) => v -> us.size }
      val victims = live.filter(v => deg.getOrElse(v, 0) <= k)
      if (victims.isEmpty) k += 1
      else {
        victims.foreach(core(_) = k)
        live --= victims
        arcs = arcs.filter { case (v, u) => live(v) && live(u) }
      }
    }
    core.toMap
  }
}
