package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, DoubleType}

/** Graph construction from an arbitrary edge DataFrame.
  *
  * Reference lifecycle (`Graph.from_cudf_edgelist`,
  * `structure/graph_classes.py:103` → `simpleGraph.py:117`): validate
  * columns → renumber (NumberMap) → symmetrize if undirected → device graph.
  * Spark version: validate → optional renumber (two hash joins) →
  * optional symmetrize (union+dedup) → hash-partitioned COO DataFrame.
  *
  * Unlike the reference we never cap size (it hard-errors above 2^31 edges
  * per GPU, `simpleGraph.py:228`) and never collect to the driver: ids are
  * Long and all transforms are shuffle-friendly.
  */
object GraphBuilder {
  import Gr._

  /** Build from a DataFrame whose src/dst are ALREADY integral ids.
    * No renumber join needed — just cast + canonical column names.
    * `vertices` (reference `from_cudf_edgelist(vertices=…)`) supplies an
    * explicit vertex list so ISOLATED vertices survive construction. */
  def fromEdges(df: DataFrame, srcCol: String, dstCol: String,
                weightCol: Option[String] = None,
                directed: Boolean = true,
                vertices: Option[DataFrame] = None): PropertyGraph = {
    val base = weightCol match {
      case Some(w) => df.select(col(srcCol).cast(LongType).as(SRC),
        col(dstCol).cast(LongType).as(DST), col(w).cast(DoubleType).as(WEIGHT))
      case None => df.select(col(srcCol).cast(LongType).as(SRC),
        col(dstCol).cast(LongType).as(DST))
    }
    val edges = if (directed) base else Structure.symmetrize(base)
    val vs = vertices match {
      case Some(v) => v.select(col(v.columns.head).cast(LongType).as(ID))
        .union(Structure.extractVertexList(edges)).distinct()
      case None => Structure.extractVertexList(edges)
    }
    PropertyGraph(vs, edges,
      GraphProperties(directed, weightCol.isDefined, symmetric = !directed))
  }

  /** Build with renumbering: external (possibly string / multi-column) ids →
    * dense Long. Keeps the NumberMap contract: renumber∘unrenumber = id. */
  def fromEdgesRenumbered(df: DataFrame, srcCols: Seq[String], dstCols: Seq[String],
                          weightCol: Option[String] = None,
                          directed: Boolean = true,
                          sorted: Boolean = false): PropertyGraph = {
    val carry = weightCol.toSeq
    val (ren, map) = Renumber.renumberEdges(df, srcCols, dstCols, carry, sorted)
    val base = weightCol match {
      case Some(w) => ren.select(col(SRC), col(DST), col(w).cast(DoubleType).as(WEIGHT))
      case None => ren.select(SRC, DST)
    }
    val edges = if (directed) base else Structure.symmetrize(base)
    val vertices = map.select(col(INT_ID).as(ID))
    PropertyGraph(vertices, edges, GraphProperties(directed, weightCol.isDefined,
      renumbered = true, symmetric = !directed), Some(map))
  }
}
