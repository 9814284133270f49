package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Release}

/** Minimum spanning tree (Borůvka) and DAG topological sort.
  *
  * Reference: `tree/legacy/mst.cu` (Borůvka, decl `algorithms.hpp:817`),
  * `dag/topological_sort_impl.cuh` (`algorithms.hpp:1132`).
  */
object TreeDag {
  import Gr._

  /** Borůvka MST over the undirected weighted graph. Deterministic: per-
    * component minimum edge chosen by (weight, src, dst) lexicographic
    * order, so ties never make the result run-dependent. log₂(V) rounds,
    * each = one join + one min-by agg + a small WCC to merge components.
    * @return canonical (src<dst) MST edges with weights (forest if the
    * graph is disconnected; maximum=true negates weights for max-ST). */
  def boruvkaMst(g: PropertyGraph, maximum: Boolean = false): DataFrame =
    boruvkaMstWithRounds(g, maximum)._1

  /** Borůvka also returning the merge-round count, for oracle round-budget
    * assertions (rounds ≤ ⌈log2 V⌉ + 1: components at least halve per
    * round, and the count includes the confirming round). The rounds run
    * on [[Iterate.fixpoint]] over the component map (id, comp): a round
    * picks each component's minimum cross edge straight from the lazily
    * joined edge table, merges the touched components and returns (id,
    * old, comp). The metric counts the components merged away; the loop
    * stops at 0 (no cross edge), and once one component is left the
    * confirming round skips the pick. Throws if 64 rounds end first. */
  def boruvkaMstWithRounds(g: PropertyGraph, maximum: Boolean = false): (DataFrame, Int) = {
    val canon0 = Structure.canonicalize(g.weightedEdges.select(SRC, DST, WEIGHT))
    val canon = (if (maximum) canon0.withColumn(WEIGHT, -col(WEIGHT)) else canon0)
      .mat
    val comp0 = Structure.extractVertexList(canon)
      .select(col(ID), col(ID).as("comp")).mat
    // the component map stays exactly |V| rows every round — one count up
    // front feeds the size-gated broadcast of both per-round state joins
    // (edge table scanned in place instead of shuffled twice per round)
    val nV = comp0.count()
    def st(df: DataFrame): DataFrame = Hint.state(df, nV)
    var mst = canon.limit(0)
    // the round's merge-graph frames, freed once the new map is materialized
    var side = Seq.empty[DataFrame]
    // a label is its component's smallest id (labels start as ids and merge
    // by min): a merged-away component is a vertex whose own label changed
    var nComp = nV
    val (last, rounds, converged) = Iterate.fixpoint(comp0, 64, -1L)({ (state, _) =>
      val comp = state.select(ID, "comp")
      // one component left: no edge crosses
      if (nComp <= 1) comp.select(col(ID), col("comp").as("old"), col("comp"))
      else {
        val e = canon
          .join(st(comp.select(col(ID).as(SRC), col("comp").as("c_src"))), SRC)
          .join(st(comp.select(col(ID).as(DST), col("comp").as("c_dst"))), DST)
          .filter(col("c_src") =!= col("c_dst"))
        // per-component min edge, deterministic tie-break
        val key = struct(col(WEIGHT), col(SRC), col(DST))
        val fromSrc = e.select(col("c_src").as("comp"), key.as("k"))
        val fromDst = e.select(col("c_dst").as("comp"), key.as("k"))
        val chosen = fromSrc.union(fromDst).groupBy("comp").agg(min("k").as("k"))
          .select(col("k.src").as(SRC), col("k.dst").as(DST), col("k.weight").as(WEIGHT))
          .distinct()
          .mat
        mst = mst.union(chosen) // lazy: only read after the loop
        // merge components along the chosen star forest — a lean min-label
        // propagation over ONLY the touched components (≤ 2·|chosen| ids;
        // untouched components keep their label through the left join
        // below). A full Components.wcc call here re-paid symmetrize,
        // vertex-count, and label-init jobs every Borůvka round.
        // no hint on the cg joins: `chosen` (≤ #components rows) is the
        // small side — AQE broadcasts it from runtime sizes; hinting comp
        // would broadcast the bigger side
        val cg = chosen
          .join(comp.select(col(ID).as(SRC), col("comp").as("ca")), SRC)
          .join(comp.select(col(ID).as(DST), col("comp").as("cb")), DST)
          .select(col("ca").as(SRC), col("cb").as(DST))
        val cgSym = cg.union(cg.select(col(DST).as(SRC), col(SRC).as(DST))).mat
        // AQE off + scoped width for the inner min-label rounds (see
        // prims.Aqe). UNLIKE the level loops, these joins are NOT
        // broadcast-hinted (r11-opt): both sides are the SAME shrinking
        // O(#components) merge-graph frames, so a broadcast buys no
        // scan-in-place of a bigger side — it only added two build jobs
        // per inner round; a plain join at the scoped width exchanges the
        // same magnitude of rows inside the materialize job itself
        // (2 jobs/inner round instead of 4).
        val (merged, _, _) = Iterate.fixpoint(cgSym.select(col(SRC).as(ID)).distinct()
            .select(col(ID), col(ID).as("ml")).mat, Int.MaxValue, nV)({ (st, _) =>
          val lbl = st.select(col(ID), col("ml"))
          val nbrMin = cgSym.join(lbl.withColumnRenamed(ID, SRC), SRC)
            .groupBy(col(DST).as(ID)).agg(min("ml").as("nm"))
          lbl.join(nbrMin, Seq(ID), "left")
            .select(col(ID), col("ml").as("old"),
              least(col("ml"), coalesce(col("nm"), col("ml"))).as("ml"))
        }, Some(sum(when(col("ml") < col("old"), 1L).otherwise(0L))), (_, _, ch) => ch == 0)
        side = Seq(cgSym, merged)
        val lbl = merged.select(col(ID), col("ml"))
        comp.join(st(lbl.withColumnRenamed(ID, "comp")), Seq("comp"), "left")
          .select(col(ID), col("comp").as("old"), coalesce(col("ml"), col("comp")).as("comp"))
      }
    }, Some(sum(when(col(ID) === col("old") && col("comp") =!= col("old"), 1L)
        .otherwise(0L))), { (_, _, gone) =>
      Release.free(side: _*)
      side = Nil
      nComp -= gone
      gone == 0
    })
    require(converged, "boruvkaMst: components still merging after 64 rounds")
    val mstOut = mst.mat
    Release.free(mst, last, canon) // the chosen edges' chain ends in mstOut
    (if (maximum) mstOut.withColumn(WEIGHT, -col(WEIGHT)) else mstOut, rounds)
  }

  /** Topological levels of a DAG by zero-in-degree peeling: level(v) =
    * length of the longest path from any source to v. The peel runs on
    * [[Iterate.fixpoint]] over the state (id, level), level null while a
    * vertex is unplaced; round r places every unplaced vertex without an
    * unplaced in-neighbour at level r. Throws on a round that places
    * nothing while vertices remain (a cycle: not a DAG, mirroring the
    * reference error contract), and if vertices remain after `maxRounds`.
    * @return DataFrame(id, level). */
  def topologicalLevels(g: PropertyGraph, maxRounds: Int = 100000): DataFrame = {
    val e = g.edges.select(SRC, DST).mat
    var unplaced = g.numVertices
    val (out, _, converged) = Iterate.fixpoint(
        g.vertices.select(col(ID), lit(null).cast("int").as("level")).mat, maxRounds, -1L)({
      (st, lvl) =>
        val blocked = e
          .join(st.filter(col("level").isNull).select(col(ID).as(SRC)), SRC)
          .select(col(DST).as(ID), lit(true).as("blocked")).distinct()
        st.join(blocked, Seq(ID), "left")
          .select(col(ID), when(col("level").isNull && col("blocked").isNull, lit(lvl))
            .otherwise(col("level")).as("level"))
    }, Some(sum(when(col("level").isNull, 1L).otherwise(0L))), { (prev, next, left) =>
      if (left > 0 && left == unplaced) {
        Release.free(prev, next, e)
        throw new IllegalArgumentException("topological_sort: graph has a cycle")
      }
      unplaced = left
      left == 0
    })
    Release.free(e)
    require(converged, s"topological_sort: vertices unplaced after $maxRounds rounds")
    out
  }
}
