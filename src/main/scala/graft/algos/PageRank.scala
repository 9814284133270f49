package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Gr}
import graft.prims.{Iterate, Hint, Regime, Release}

/** PageRank / personalized PageRank — power iteration with dangling-mass
  * redistribution and L1 convergence, matching the reference contract
  * (`link_analysis/pagerank.py:69`: alpha=0.85, tol=1e-5, max_iter=100;
  * core loop `link_analysis/pagerank_impl.cuh`: per-iteration
  * `update_edge_src_property` + `per_v_transform_reduce_incoming_e` (plus-
  * reduce) + `transform_reduce_v` for dangling mass and the L1 delta).
  *
  * Spark realization: ranks ⋈ out-degree → contribution per edge →
  * groupBy(dst).sum — one shuffle per iteration; dangling mass and the
  * convergence delta are one scalar job each per round.
  * The out-degree table is computed once and reused (the reference's
  * `precomputed_vertex_out_weight`).
  */
object PageRank {
  import Gr._

  /** @return DataFrame(id, pagerank) summing to 1 (within fp error).
    * @throws graft.core.FailedToConvergeException when `tol > 0` and the L1
    *         delta is still above `tol` after `maxIter` rounds — the
    *         reference's `fail_on_nonconvergence=True` default
    *         (`link_analysis/pagerank.py:78`). Use [[runWithStatus]] for
    *         the `fail_on_nonconvergence=False` tuple form. */
  def run(g: PropertyGraph, alpha: Double = 0.85, tol: Double = 1e-5,
          maxIter: Int = 100, personalization: Option[DataFrame] = None,
          weighted: Boolean = false, nstart: Option[DataFrame] = None): DataFrame = {
    val (df, converged) = runWithStatus(g, alpha, tol, maxIter, personalization, weighted, nstart)
    if (!converged)
      throw new graft.core.FailedToConvergeException(
        s"PageRank did not reach tol=$tol within maxIter=$maxIter")
    df
  }

  /** `fail_on_nonconvergence=False` form: (ranks, converged) — never throws
    * on a tolerance miss (`pagerank.py:182-186`). */
  def runWithStatus(g: PropertyGraph, alpha: Double = 0.85, tol: Double = 1e-5,
                    maxIter: Int = 100, personalization: Option[DataFrame] = None,
                    weighted: Boolean = false, nstart: Option[DataFrame] = None): (DataFrame, Boolean) =
    // AQE off + scoped reduce width under the broadcast gate for the whole
    // kernel, setup as well as rounds (prims.Regime): the edge attaches are
    // explicitly Hint.state-broadcast there, the remaining joins are
    // V-row-sized — AQE's per-exchange query-stage jobs were pure scheduler
    // floor on this kernel (measured ~9 broadcast/stage jobs per round at
    // sf0.1).
    Regime.scope(g.spark, g.numVertices) {
    val nVL = g.numVertices
    val nV = nVL.toDouble
    val verts = g.vertices.select(ID).mat

    val e = if (weighted) g.weightedEdges.select(SRC, DST, WEIGHT)
            else g.edges.select(SRC, DST).withColumn(WEIGHT, lit(1.0))
    // out-weight per source (reference precomputed_vertex_out_weight)
    val outW = e.groupBy(col(SRC).as(ID)).agg(sum(WEIGHT).as("out_w"))
      .mat
    val edges = e.join(Hint.state(outW.withColumnRenamed(ID, SRC), nVL), SRC)
      .select(col(SRC), col(DST), (col(WEIGHT) / col("out_w")).as("norm_w"))
      .mat

    // reset vector: uniform 1/V or personalization distribution. The
    // static dangling flag rides the reset frame (r11-opt): the per-round
    // dangling mass is then one conditional sum in the SAME scalar scan
    // of the previous (materialized) state — the old per-round
    // semi-join-against-danglingSet job and its broadcast build are gone.
    val dangFlag = coalesce(col("has_out"), lit(false))
    val reset0 = personalization match {
      case Some(p) =>
        val cols = p.columns
        val total = p.agg(sum(col(cols(1)))).first().getDouble(0)
        verts.join(p.select(col(cols(0)).as(ID), (col(cols(1)) / total).as("reset")), Seq(ID), "left")
          .select(col(ID), coalesce(col("reset"), lit(0.0)).as("reset"))
      case None => verts.withColumn("reset", lit(1.0 / nV))
    }
    val reset = reset0
      .join(outW.select(col(ID), lit(true).as("has_out")), Seq(ID), "left")
      .select(col(ID), col("reset"), (!dangFlag).as("is_dang"))
      .mat
    val hasDangling = reset.filter(col("is_dang")).limit(1).count() > 0
    // warm start (reference `nstart`): caller-provided initial ranks,
    // sum-normalized; default = the reset distribution. The loop state
    // carries is_dang so every round's dangling mass is a scan, not a join.
    val init = nstart match {
      case Some(n0) =>
        val cols = n0.columns
        val total = n0.agg(sum(col(cols(1)))).first().getDouble(0)
        reset.join(n0.select(col(cols(0)).as(ID), (col(cols(1)) / total).as("pagerank")),
          Seq(ID), "left")
          .select(col(ID), coalesce(col("pagerank"), lit(0.0)).as("pagerank"),
            col("is_dang"))
      case None => reset.select(col(ID), col("reset").as("pagerank"), col("is_dang"))
    }

    val step = { (ranks: DataFrame, _: Int) =>
      // dangling mass: rank stuck on sink vertices, redistributed via
      // reset — one cached-frame scalar scan (ranks is the previous
      // round's materialized state)
      val dangling = if (!hasDangling) 0.0
        else ranks.agg(coalesce(sum(when(col("is_dang"), col("pagerank"))), lit(0.0)))
          .first().getDouble(0)
      val contribs = edges.join(Hint.state(
          ranks.select(col(ID).as(SRC), col("pagerank")), nVL), SRC)
        .select(col(DST).as(ID), (col("pagerank") * col("norm_w")).as("c"))
        .groupBy(ID).agg(sum("c").as("in_sum"))
      reset.join(contribs, Seq(ID), "left")
        .select(col(ID),
          (lit(alpha) * (coalesce(col("in_sum"), lit(0.0)) + lit(dangling) * col("reset"))
            + lit(1.0 - alpha) * col("reset")).as("pagerank"),
          col("is_dang"))
    }
    val (result, converged) = powerIterate(init, maxIter, nVL, "pagerank", tol)(step)
    Release.free(verts, outW, edges, reset)
    (result.select(col(ID), col("pagerank")), converged)
    }

  /** Power iteration on the fixpoint driver: the loop stops once the L1
    * change of `value` between two rounds is below `tol`, the reference's
    * convergence rule (`pagerank_impl.cuh:311`) — one join and scalar job
    * per round. `tol <= 0` runs `maxIter` rounds with no convergence job,
    * and the flag is then vacuously true. `init` is materialized here, in
    * the regime of the `rows`-row state, and handed to the driver.
    * @return (final state, converged) */
  private[algos] def powerIterate(init: DataFrame, maxIter: Int, rows: Long,
                                  value: String, tol: Double)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    val l1Below = { (prev: DataFrame, next: DataFrame, _: Long) =>
      tol > 0 && next.join(prev.select(col(ID), col(value).as("_prev")), ID)
        .agg(sum(abs(col(value) - col("_prev")))).first().getDouble(0) < tol
    }
    val (res, _, converged) = Regime.scope(init.sparkSession, rows) {
      Iterate.fixpoint(init.mat, maxIter, rows)(step, None, l1Below)
    }
    (res, converged || tol <= 0)
  }

  /** Fixed-iteration variant (no convergence job per round) — used by the
    * oracle queries so DuckDB-unrolled SQL matches exactly, and the fastest
    * form for benchmarking a known iteration budget. */
  def runFixed(g: PropertyGraph, iters: Int, alpha: Double = 0.85): DataFrame =
    run(g, alpha = alpha, tol = -1.0, maxIter = iters)
}
