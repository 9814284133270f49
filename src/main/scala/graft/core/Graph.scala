package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph properties, mirroring the reference's `Graph.Properties`
  * (cugraph `structure/graph_implementation/simpleGraph.py:79-89`:
  * multi_edge, directed, renumbered, self_loop, store_transposed, weighted).
  * Spark needs no physical transpose: push vs pull is a join-key choice.
  *
  * `symmetric`: the edge list is known to hold both directions of every
  * edge (set by the undirected builders and [[PropertyGraph.symmetrized]]),
  * so kernels that need an undirected edge set skip the symmetrize shuffle.
  * `directed = false` alone does not imply it: an undirected graph may be
  * declared over one-direction pairs (Dedup.resolveClusters does).
  */
final case class GraphProperties(
    directed: Boolean = true,
    weighted: Boolean = false,
    renumbered: Boolean = false,
    multiEdge: Boolean = false,
    tree: Boolean = false,
    symmetric: Boolean = false)

/** Property-light graph over a columnar edge list — the COO edge list is the
  * source of truth, exactly as in the reference (`simpleGraph.py:42-67`), but
  * held as a Spark DataFrame so every operator is distributed by construction.
  *
  * Canonical edge schema: `src: Long, dst: Long[, weight: Double]`.
  * Canonical vertex schema: `id: Long` (+ optional property columns).
  *
  * No CSR view is materialized: Spark's shuffle-hash/sort-merge joins play the
  * role of adjacency lookups, and per-partition adjacency is built only inside
  * tight loops when an algorithm genuinely needs it.
  */
final case class PropertyGraph(
    vertices: DataFrame,
    edges: DataFrame,
    props: GraphProperties,
    renumberMap: Option[DataFrame] = None) {

  def spark: SparkSession = edges.sparkSession
  def hasWeights: Boolean = edges.columns.contains(Gr.WEIGHT)

  /** Edge list with a weight column guaranteed (1.0 default, as the
    * reference does for unweighted graphs in algorithm entry points). */
  def weightedEdges: DataFrame =
    if (hasWeights) edges else edges.withColumn(Gr.WEIGHT, lit(1.0))

  /** Vertex count, counted once per graph: kernels gate their regime on it
    * (prims.Regime), and a graph's frames never change. */
  lazy val numVertices: Long = vertices.count()
  def numEdges: Long = edges.count()
  private lazy val renumberMapRows: Long = renumberMap.fold(0L)(_.count())

  /** Predicate surface (reference `simpleGraph.py:1456,1463,1504,1536`):
    * membership checks compile to `filter().limit(1)` — one partial scan,
    * no full count. */
  def hasNode(id: Long): Boolean =
    !vertices.filter(col(Gr.ID) === id).limit(1).isEmpty
  def hasEdge(src: Long, dst: Long): Boolean =
    !edges.filter(col(Gr.SRC) === src && col(Gr.DST) === dst).limit(1).isEmpty
  def hasSelfLoop: Boolean =
    !edges.filter(col(Gr.SRC) === col(Gr.DST)).limit(1).isEmpty
  /** Out-neighbors of a vertex (reference `neighbors(n)`). */
  def neighbors(id: Long): DataFrame =
    edges.filter(col(Gr.SRC) === id).select(col(Gr.DST).as(Gr.ID))

  /** Graph-class predicates (reference `is_directed/is_weighted/
    * is_multigraph/is_bipartite`, `graph_classes.py`). */
  def isDirected: Boolean = props.directed
  def isWeighted: Boolean = props.weighted && hasWeights
  /** Declared multigraphs (built via GraphClasses.multiGraphFromEdges)
    * answer from the property; undeclared ones fall back to counting, the
    * reference's structural check. */
  def isMultigraph: Boolean =
    props.multiEdge ||
      edges.count() > edges.select(Gr.SRC, Gr.DST).distinct().count()

  /** Edge density (reference `Graph.density`, `graph_classes.py:806-831`).
    * Undirected graphs store both directions here, so stored-E/(V(V−1))
    * equals the standard 2E/(V(V−1)) without the reference's factor
    * branch. Refused on a MultiGraph, as in the reference (multiplicity
    * makes >100% "density" meaningless, `graph_classes.py:849-862`). */
  def density: Double = {
    require(!props.multiEdge, "the density function is not supported on a MultiGraph")
    val v = numVertices.toDouble
    numEdges.toDouble / (v * (v - 1.0))
  }

  /** Bipartiteness via the min-(label, parity) fixpoint of
    * [[Structure.bipartiteBatch]], run on this graph alone. */
  def isBipartite: Boolean = Structure.bipartiteBatch(Seq("g" -> this))("g")

  /** Undirected view: union of edges with their reversals, deduplicated.
    * Reference: `structure/symmetrize.py:167`. */
  def symmetrized: PropertyGraph =
    if (!props.directed) this
    else PropertyGraph(vertices, Structure.symmetrize(edges),
      props.copy(directed = false, symmetric = true), renumberMap)

  def cache(): PropertyGraph = {
    vertices.persist(StorageLevel.MEMORY_AND_DISK)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  def unpersist(): PropertyGraph = {
    vertices.unpersist(); edges.unpersist(); this
  }

  /** Map internal dense ids in `col` back to external ids.
    * Reference: `NumberMap.unrenumber` (`structure/number_map.py:599`) —
    * a single hash join on the renumber map. */
  def unrenumber(df: DataFrame, idCol: String): DataFrame = renumberMap match {
    case None => df
    case Some(m) =>
      // edges/vertices typically DERIVE from the map (renumberEdges joins
      // it), so joining the raw map again is the ambiguous-self-join trap
      // (ADVICE r1) — alias both sides and resolve by qualifier.
      val extCols = m.columns.filterNot(_ == Gr.INT_ID)
      // the map is O(V) with full external-id columns — broadcast only while
      // it is genuinely small (Hint.state gate), else a plain shuffle join;
      // an unconditional broadcast hits the driver/broadcast limit at scale
      val rm = graft.prims.Hint.state(m.as("_rm"), renumberMapRows)
      val joined = df.as("_b").join(rm,
        col(s"_b.$idCol") === col(s"_rm.${Gr.INT_ID}"), "left")
      // replace the internal id column with the external one(s)
      val keep = df.columns.filterNot(_ == idCol).map(c => col(s"_b.$c")) ++
        extCols.map(c => col(s"_rm.$c").as(if (extCols.length == 1) idCol else s"${idCol}_$c"))
      joined.select(keep.toIndexedSeq: _*)
  }
}

/** Raised by tolerance-driven solvers (PageRank, Katz) that hit `maxIter`
  * without meeting `tol` — the reference's `FailedToConvergeError`
  * (`cugraph/exceptions.py`, surfaced via `fail_on_nonconvergence=True` in
  * `link_analysis/pagerank.py:78`). Callers who want the flag instead use
  * the `*WithStatus` variants. */
final class FailedToConvergeException(msg: String) extends RuntimeException(msg)

/** Column-name constants (reference pins these at `simpleGraph.py:36-40`). */
object Gr {
  val SRC = "src"
  val DST = "dst"
  val WEIGHT = "weight"
  val EDGE_ID = "edge_id"
  val EDGE_TYPE = "edge_type"
  val ID = "id"
  val INT_ID = "int_id"
}
