package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Regime, Release}
import Traversal.Fresh

/** Katz / eigenvector / HITS / degree centrality — the PageRank-shaped
  * dense-iteration family, plus Brandes betweenness.
  *
  * Reference: `centrality/katz_centrality_impl.cuh` (`algorithms.hpp:1502`),
  * `centrality/eigenvector_centrality_impl.cuh` (`:1413`),
  * `link_analysis/hits_impl.cuh` (`:1452`),
  * `centrality/degree_centrality.py:7`,
  * `centrality/betweenness_centrality_impl.cuh` (`:297`).
  *
  * All dense iterations are one aggregate-messages shuffle per round
  * (ranks ⋈ edges → groupBy(dst).sum) — the Spark realization of
  * `per_v_transform_reduce_incoming_e` with `reduce_op::plus` — with scalar
  * normalization aggs batched into the same round.
  */
object Centrality {
  import Gr._

  /** Katz centrality: c ← alpha·(Aᵀ c) + beta, fixed iterations or L1 tol.
    * Reference defaults (`katz_centrality.py:10`): beta=1.0, tol=1e-6.
    * @throws graft.core.FailedToConvergeException when `tol > 0` and the
    *         solver hits `maxIter` above tolerance (the reference raises
    *         from the C++ layer; same contract as PageRank's
    *         `fail_on_nonconvergence=True`). [[katzWithStatus]] returns the
    *         flag instead. */
  def katz(g: PropertyGraph, alpha: Double, beta: Double = 1.0,
           maxIter: Int = 100, tol: Double = 1e-6,
           normalized: Boolean = true, nstart: Option[DataFrame] = None): DataFrame = {
    // flag checked BEFORE normalization: the L2-norm scalar job is wasted
    // work on the throwing path (ADVICE r7)
    val (raw, converged) = katzRaw(g, alpha, beta, maxIter, tol, nstart)
    if (!converged)
      throw new graft.core.FailedToConvergeException(
        s"Katz did not reach tol=$tol within maxIter=$maxIter")
    katzNormalize(raw, normalized)
  }

  /** (katz, converged) tuple form — never throws on a tolerance miss. */
  def katzWithStatus(g: PropertyGraph, alpha: Double, beta: Double = 1.0,
           maxIter: Int = 100, tol: Double = 1e-6,
           normalized: Boolean = true, nstart: Option[DataFrame] = None): (DataFrame, Boolean) = {
    val (raw, converged) = katzRaw(g, alpha, beta, maxIter, tol, nstart)
    (katzNormalize(raw, normalized), converged)
  }

  private def katzNormalize(res: DataFrame, normalized: Boolean): DataFrame =
    if (!normalized) res
    else {
      val norm = res.agg(sqrt(sum(col("katz") * col("katz")))).first().getDouble(0)
      res.select(col(ID), (col("katz") / norm).as("katz"))
    }

  private def katzRaw(g: PropertyGraph, alpha: Double, beta: Double,
           maxIter: Int, tol: Double, nstart: Option[DataFrame]): (DataFrame, Boolean) = {
    val verts = g.vertices.select(ID).mat
    val nV = verts.count()
    val e = g.edges.select(SRC, DST).mat
    // warm start (reference `nstart`); default beta everywhere
    val init = nstart match {
      case Some(n0) =>
        val cols = n0.columns
        verts.join(n0.select(col(cols(0)).as(ID), col(cols(1)).as("katz")), Seq(ID), "left")
          .select(col(ID), coalesce(col("katz"), lit(beta)).as("katz"))
      case None => verts.withColumn("katz", lit(beta))
    }
    val step = { (c: DataFrame, _: Int) =>
      val in = e.join(Hint.state(c.withColumnRenamed(ID, SRC), nV), SRC)
        .groupBy(col(DST).as(ID)).agg(sum("katz").as("in_sum"))
      verts.join(in, Seq(ID), "left")
        .select(col(ID), (lit(alpha) * coalesce(col("in_sum"), lit(0.0)) + lit(beta)).as("katz"))
    }
    // AQE off + scoped width under the broadcast gate (prims.Regime): the
    // edge attach is Hint.state-broadcast, the remaining per-round joins
    // are V-row-sized — AQE's per-exchange stage jobs were pure scheduler
    // floor on this loop (same audit as the r11-opt PageRank change).
    val res = PageRank.powerIterate(init, maxIter, nV, "katz", tol)(step)
    Release.free(verts, e)
    res
  }

  /** Eigenvector centrality — power iteration with L2 normalization per
    * round (reference `eigenvector_centrality.py:13`, tol on L1 delta). */
  def eigenvector(g: PropertyGraph, maxIter: Int = 100, tol: Double = 1e-6): DataFrame = {
    val verts = g.vertices.select(ID).mat
    val nV = verts.count().toDouble
    val e = g.weightedEdges.select(SRC, DST, WEIGHT).mat
    val init = verts.withColumn("ec", lit(1.0 / math.sqrt(nV)))
    // the step's intra-round materialization (pre-norm vector) is dead once
    // the loop materializes the round's output — free it at the NEXT step
    // entry so a long power iteration holds one round's blocks, not all
    var prevRaw: DataFrame = null
    val step = { (c: DataFrame, _: Int) =>
      Release.free(prevRaw)
      val in = e.join(Hint.state(c.withColumnRenamed(ID, SRC), nV.toLong), SRC)
        .groupBy(col(DST).as(ID)).agg(sum(col("ec") * col(WEIGHT)).as("in_sum"))
      val raw = verts.join(in, Seq(ID), "left")
        .select(col(ID), coalesce(col("in_sum"), lit(0.0)).as("ec"))
        .mat
      prevRaw = raw
      val norm = raw.agg(sqrt(sum(col("ec") * col("ec")))).first().getDouble(0)
      raw.select(col(ID), (col("ec") / lit(if (norm == 0) 1.0 else norm)).as("ec"))
    }
    // scoped AQE-off under the gate — same rationale as katzRaw (r11-opt)
    val res = PageRank.powerIterate(init, maxIter, nV.toLong, "ec", tol)(step)._1
    Release.free(prevRaw, verts, e)
    res
  }

  /** HITS hubs & authorities, sum-normalized each half-round
    * (reference `link_analysis/hits.py:11`, `hits_impl.cuh`).
    *
    * `nstart` (reference `hits.py:37-46`): optional initial hubs guess as a
    * 2-column (vertex, value) frame; vertices absent from the guess start
    * at 0 (the reference scatters the guess into a device buffer the same
    * way). Per-round normalization makes the result invariant to the
    * guess's global scale — only its direction matters — so the reference's
    * input sum-normalization (`hits_impl.cuh:83`) is a no-op here.
    *
    * `normalized` (reference `hits.py:47`, `hits_impl.cuh:175`): when true
    * (default) the final hubs/authorities are 1-norm-normalized (sum = 1);
    * when false they are max-normalized (max = 1) — exactly the scale the
    * reference returns with `normalize=false`, whose last in-loop step is
    * a divide-by-max (`hits_impl.cuh:138-146`). The iterate DIRECTION is
    * identical under either scheme (normalization is a positive scalar per
    * half-round that cancels in the next aggregation).
    * @return DataFrame(id, hubs, authorities). */
  def hits(g: PropertyGraph, maxIter: Int = 100, tol: Double = 1e-5,
           nstart: Option[DataFrame] = None,
           normalized: Boolean = true): DataFrame = {
    val verts = g.vertices.select(ID).mat
    val nV = verts.count()
    val e = g.edges.select(SRC, DST).mat
    val init = nstart match {
      case Some(n0) =>
        val cols = n0.columns
        verts.join(n0.select(col(cols(0)).as(ID), col(cols(1)).as("h0")), Seq(ID), "left")
          .select(col(ID), coalesce(col("h0"), lit(0.0)).as("hubs"),
            lit(1.0).as("authorities"))
      case None =>
        verts.withColumn("hubs", lit(1.0)).withColumn("authorities", lit(1.0))
    }
    // per-round intra-step frames (pre-norm authority/hub vectors) are dead
    // once the loop materializes the round's output — free at next entry
    var prevIntra: Seq[DataFrame] = Nil
    val step = { (hs: DataFrame, _: Int) =>
      Release.free(prevIntra: _*)
      // authorities(v) = Σ hubs(u) over u→v, then sum-normalize
      val auth0 = e.join(Hint.state(hs.select(col(ID).as(SRC), col("hubs")), nV), SRC)
        .groupBy(col(DST).as(ID)).agg(sum("hubs").as("a"))
      val authAll = verts.join(auth0, Seq(ID), "left")
        .select(col(ID), coalesce(col("a"), lit(0.0)).as("a")).mat
      val aNorm = authAll.agg(sum("a")).first().getDouble(0)
      val auth = authAll.select(col(ID), (col("a") / lit(if (aNorm == 0) 1.0 else aNorm)).as("authorities"))
      // hubs(u) = Σ authorities(v) over u→v, then sum-normalize
      val hub0 = e.join(Hint.state(auth.select(col(ID).as(DST), col("authorities")), nV), DST)
        .groupBy(col(SRC).as(ID)).agg(sum("authorities").as("h"))
      val hubAll = verts.join(hub0, Seq(ID), "left")
        .select(col(ID), coalesce(col("h"), lit(0.0)).as("h")).mat
      val hNorm = hubAll.agg(sum("h")).first().getDouble(0)
      prevIntra = Seq(authAll, hubAll)
      hubAll.select(col(ID), (col("h") / lit(if (hNorm == 0) 1.0 else hNorm)).as("hubs"))
        .join(auth, ID)
        .select(col(ID), col("hubs"), col("authorities"))
    }
    // scoped AQE-off under the gate — same rationale as katzRaw (r11-opt)
    val res = PageRank.powerIterate(init, maxIter, nV, "hubs", tol)(step)._1
    Release.free(prevIntra :+ verts :+ e: _*)
    if (normalized) res // per-round sum-normalization already left sum = 1
    else {
      // reference normalize=false scale: last in-loop step is max-divide
      val m = res.agg(max("hubs"), max("authorities")).first()
      val (mh, ma) = (m.getDouble(0), m.getDouble(1))
      res.select(col(ID),
        (col("hubs") / lit(if (mh == 0) 1.0 else mh)).as("hubs"),
        (col("authorities") / lit(if (ma == 0) 1.0 else ma)).as("authorities"))
    }
  }

  /** Degree centrality: degree / (V-1) (reference `degree_centrality.py:7`). */
  def degreeCentrality(g: PropertyGraph): DataFrame = {
    val nV = g.numVertices.toDouble
    Structure.degrees(g).select(col(ID),
      (col("degree") / lit(nV - 1.0)).as("degree_centrality"))
  }

  /** Betweenness centrality — Brandes with all (or k sampled) sources
    * batched as a `root` column so the whole computation is a constant
    * number of Spark jobs per BFS LEVEL, not per source
    * (reference `betweenness_centrality.py:16`; SURVEY §7.4-2).
    *
    * Forward phase: level-synchronous multi-source BFS over state
    * (root, id, dist, sigma); backward phase: dependency accumulation
    * delta(v) = Σ_{w succ} sigma(v)/sigma(w) · (1+delta(w)) by descending
    * level — each level is one join+agg keyed on (root, vertex).
    */
  def betweenness(g: PropertyGraph, k: Option[Int] = None, seed: Long = 42,
                  normalized: Boolean = true, directed: Boolean = false,
                  endpoints: Boolean = false): DataFrame =
    betweennessWithLevels(g, k, seed, normalized, directed, endpoints)._1

  /** The Brandes forward/backward state pair: final dependency table,
    * settled reach set, vertex list, |V|, BFS level count, and the edge
    * table the levels walked (symmetrized unless directed). The expensive
    * part of every betweenness variant — the plain and endpoints=True
    * scorings are each ONE cheap aggregation pass over these states
    * (reference betweenness_centrality.py computes both from the same
    * accumulation too), so callers that need both (q_betweenness /
    * q_betweenness_endpoints) share one state computation per session via
    * Fixtures, the same kernel-sharing rule as the similarity and
    * triangle-support tables (r11-opt). */
  final case class BrandesStates(delta: DataFrame, settled: DataFrame,
                                 verts: DataFrame, nV: Double, levels: Int,
                                 edges: DataFrame)

  /** Betweenness also returning the BFS level count (longest shortest path
    * from any root) so oracle queries can assert the unrolled SQL's level
    * budget was sufficient. */
  def betweennessWithLevels(g: PropertyGraph, k: Option[Int] = None, seed: Long = 42,
                  normalized: Boolean = true, directed: Boolean = false,
                  endpoints: Boolean = false): (DataFrame, Int) = {
    val s = brandesStates(g, k, seed, directed)
    // the scoring reads delta and verts, and settled only for endpoints
    Release.free(s.edges)
    if (!endpoints) Release.free(s.settled)
    (betweennessFromStates(s, k, normalized, directed, endpoints), s.levels)
  }

  /** The forward multi-source BFS + backward dependency accumulation of
    * [[betweennessWithLevels]], split out so the states can be shared. */
  def brandesStates(g: PropertyGraph, k: Option[Int] = None, seed: Long = 42,
                    directed: Boolean = false): BrandesStates = {
    val e0 = if (directed) g.edges.select(SRC, DST)
             else Structure.symmetrize(g.edges.select(SRC, DST))
    val e = e0.mat
    val verts = g.vertices.select(ID).mat
    val nV = verts.count().toDouble
    // k-sampled roots use the portable md5 hash race (oracle-reproducible,
    // unlike xxhash64 which DuckDB lacks); tie-break by id.
    val roots = (k match {
      case Some(kk) => verts.orderBy(
        graft.pipeline.TextOps.hash60(concat_ws("|", lit("bc"), col(ID), lit(seed))), col(ID)).limit(kk)
      case None => verts
    }).select(col(ID).as("root"))
    // every Brandes state table is ≤ roots × |V| rows; when that bound
    // clears the broadcast gate the per-level joins against the edge table
    // go map-side (one shuffle per level — the aggregation — instead of
    // three), and the levels run with AQE off (prims.Regime): every join
    // inside is then explicitly broadcast-hinted, and AQE's per-exchange
    // query-stage jobs are pure scheduler floor (~2 extra jobs per BFS
    // level). Past the gate the joins are stats-blind SMJs where AQE's
    // runtime broadcast/skew rescue earns its keep, so it stays on. σ sums
    // are integral-valued doubles, so partial-agg regrouping under the
    // changed join shape cannot perturb them.
    val stateBound = Traversal.stateRows(k.map(_.toLong).getOrElse(nV.toLong), nV.toLong)
    def st(df: DataFrame): DataFrame = Hint.state(df, stateBound)
    Regime.scope(verts.sparkSession, stateBound) {
      // forward multi-source BFS: settled(root, id, dist, sigma), the level
      // reached last marked — the frontier loop's state shape
      val forward = { (state: DataFrame, r: Int) =>
        val reached = st(state.filter(col(Fresh)).drop(Fresh).withColumnRenamed(ID, SRC))
          .join(e, SRC)
          .select(col("root"), col(DST).as(ID), col("sigma"))
          .join(st(state.select(col("root"), col(ID))), Seq("root", ID), "left_anti")
          .groupBy("root", ID).agg(sum("sigma").as("sigma"))
          .select(col("root"), col(ID), lit(r + 1).as("dist"), col("sigma"), lit(true).as(Fresh))
        state.withColumn(Fresh, lit(false)).union(reached)
      }
      val init = roots.select(col("root"), col("root").as(ID),
        lit(0).as("dist"), lit(1.0).as("sigma"), lit(true).as(Fresh)).mat
      val (fwd, levels, _) = Iterate.fixpoint(init, Int.MaxValue, stateBound)(
        forward, Some(Traversal.freshRows), (_, _, n) => n == 0)
      val settled = fwd.drop(Fresh)
      // backward sweep by descending level l = levels-1 … 0, one per round
      val backward = { (delta: DataFrame, r: Int) =>
        val l = levels - 1 - r
        // the level frame rides the same size-gated broadcast as every other
        // state join (delta streams exchange-free; unhinted this was a
        // stats-blind SMJ sorting both sides each level)
        val wState = delta
          .join(st(settled.filter(col("dist") === l + 1)), Seq("root", ID))
          .select(col("root"), col(ID).as(DST), col("sigma").as("sigma_w"), col("delta").as("delta_w"))
        val contrib = e.join(st(wState), DST)
          .select(col("root"), col(SRC).as(ID), col("sigma_w"), col("delta_w"))
          .join(st(settled.filter(col("dist") === l).select(col("root"), col(ID), col("sigma"))),
            Seq("root", ID))
          .select(col("root"), col(ID),
            (col("sigma") / col("sigma_w") * (lit(1.0) + col("delta_w"))).as("c"))
          .groupBy("root", ID).agg(sum("c").as("inc"))
        delta.join(st(contrib), Seq("root", ID), "left")
          .select(col("root"), col(ID), (col("delta") + coalesce(col("inc"), lit(0.0))).as("delta"))
      }
      val (delta, _, _) = Iterate.fixpoint(
        settled.select(col("root"), col(ID), lit(0.0).as("delta")).mat, levels, stateBound)(
        backward, None, (_, _, _) => false)
      BrandesStates(delta, settled, verts, nV, levels, e)
    }
  }

  /** The scoring tail of [[betweennessWithLevels]] over precomputed states:
    * one aggregation over delta (+ two over settled for endpoints=True),
    * then normalization — identical arithmetic to the fused form. */
  def betweennessFromStates(s: BrandesStates, k: Option[Int],
                            normalized: Boolean, directed: Boolean,
                            endpoints: Boolean): DataFrame = {
    val delta = s.delta; val settled = s.settled
    val verts = s.verts; val nV = s.nV
    val bc0 = delta.filter(col("root") =!= col(ID))
      .groupBy(ID).agg(sum("delta").as("betweenness_centrality"))
    val full0 = verts.join(bc0, Seq(ID), "left")
      .select(col(ID), coalesce(col("betweenness_centrality"), lit(0.0)).as("betweenness_centrality"))
    // endpoints=True (reference betweenness_centrality.py:16): each (s,t)
    // path also counts its endpoints — per vertex add (ordered sum / 2):
    // roots add (reached−1), every vertex adds #roots reaching it.
    val full = if (!endpoints) full0 else {
      val rootReach = settled.groupBy(col("root").as(ID))
        .agg((count(lit(1)) - 1).cast("double").as("rr"))
      val srcReach = settled.filter(col("root") =!= col(ID))
        .groupBy(ID).agg(count(lit(1)).cast("double").as("sr"))
      full0.join(rootReach, Seq(ID), "left").join(srcReach, Seq(ID), "left")
        .select(col(ID), (col("betweenness_centrality") +
          coalesce(col("rr"), lit(0.0)) + coalesce(col("sr"), lit(0.0)))
          .as("betweenness_centrality"))
    }
    // undirected graphs count each path twice; normalization per reference
    val halved = if (directed) full
      else full.select(col(ID), (col("betweenness_centrality") / 2.0).as("betweenness_centrality"))
    val res = if (!normalized) halved
    else {
      val denom0 = if (endpoints) nV * (nV - 1.0) else (nV - 1.0) * (nV - 2.0)
      val denom = if (directed) denom0 else denom0 / 2.0
      val scale = k match {
        case Some(kk) => denom * kk / nV   // sample scaling
        case None => denom
      }
      halved.select(col(ID),
        (col("betweenness_centrality") / lit(if (scale == 0) 1.0 else scale)).as("betweenness_centrality"))
    }
    res
  }

  /** Edge betweenness centrality (reference `betweenness_centrality.py:178`,
    * C++ `algorithms.hpp:342`): per-edge dependency accumulation over the
    * same Brandes forward/backward states — for each shortest-path-DAG edge
    * (u,v) (dist v = dist u + 1), contribution σ_u/σ_v·(1+δ_v) summed over
    * roots. Undirected output is canonical (src<dst), halved, normalized by
    * n(n−1)/2 (k-sampling rescales as the vertex variant does).
    * @return (DataFrame(src, dst, betweenness_centrality), levels). */
  def edgeBetweennessWithLevels(g: PropertyGraph, k: Option[Int] = None, seed: Long = 42,
                                normalized: Boolean = true): (DataFrame, Int) = {
    val s = brandesStates(g, k, seed, directed = false)
    Release.free(s.verts) // the per-edge scoring reads the states and edges only
    val (e, settled, delta, nV) = (s.edges, s.settled, s.delta, s.nV)
    // per-edge contributions over the shortest-path DAG edges
    val stateU = settled.select(col("root"), col(ID).as(SRC),
      col("dist").as("du"), col("sigma").as("su"))
    val stateV = settled.join(delta, Seq("root", ID))
      .select(col("root"), col(ID).as(DST), col("dist").as("dv"),
        col("sigma").as("sv"), col("delta").as("deltav"))
    // NOTE: no broadcast hint here — the e ⋈ stateU fan-out is E×roots
    // rows and Catalyst's own planning of this three-way join measures 2.7×
    // faster than pinning both state sides to broadcast (the hint forces
    // the full fan-out through the big-side scan before the dv=du+1 DAG
    // filter can cut it; re-measured in r12, OPTIMIZATION_r12.md).
    val contribE = e.join(stateU, SRC).join(stateV, Seq("root", DST))
      .filter(col("dv") === col("du") + 1)
      .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST),
        (col("su") / col("sv") * (lit(1.0) + col("deltav"))).as("c"))
      .groupBy(SRC, DST).agg((sum("c") / 2.0).as("raw"))
    val canon = Structure.canonicalize(g.edges.select(SRC, DST))
    val full = canon.join(contribE, Seq(SRC, DST), "left")
      .select(col(SRC), col(DST), coalesce(col("raw"), lit(0.0)).as("raw"))
    val res = if (!normalized) full.withColumnRenamed("raw", "betweenness_centrality")
    else {
      val denom0 = nV * (nV - 1.0) / 2.0
      val denom = k match {
        case Some(kk) => denom0 * kk / nV
        case None => denom0
      }
      full.select(col(SRC), col(DST),
        (col("raw") / lit(if (denom == 0) 1.0 else denom)).as("betweenness_centrality"))
    }
    (res, s.levels)
  }
}
