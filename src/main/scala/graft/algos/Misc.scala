package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Release}
import graft.prims.Mat._
import graft.pipeline.TextOps.hash60

/** Luby-style randomized-rounds algorithms (MIS / coloring / matching),
  * driver-side LAP, and the ForceAtlas2-shaped layout.
  *
  * Reference: MIS `cpp/src/components/mis_impl.cuh` (`algorithms.hpp:2332`),
  * vertex coloring `components/vertex_coloring_impl.cuh` (`:2360`),
  * approximate weighted matching `community/approx_weighted_matching_impl.cuh`
  * (`:2388`), Hungarian `linear_assignment/legacy/hungarian.cu`
  * (`algorithms.hpp:463`), ForceAtlas2 `layout/legacy/barnes_hut.cuh`
  * (`:234`).
  *
  * Randomness = the deterministic hash60 race (see sampling.Walks), so MIS
  * and matching have EXACT DuckDB oracles; rounds are level-synchronous
  * joins + aggregations — Luby's O(log n) round bound keeps the job count
  * logarithmic at any scale.
  */
object Misc {
  import Gr._

  private def priority(c: org.apache.spark.sql.Column, seed: Long) =
    hash60(concat_ws("|", lit("mis"), c, lit(seed)))

  /** Maximal independent set, Luby's algorithm: a vertex enters the MIS when
    * its (hash, id) priority beats every remaining neighbor; winners'
    * neighborhoods leave the arena. The rounds run on [[Iterate.fixpoint]]
    * over the state (id, p, status): status is null while a vertex is in
    * the arena, true once it entered the MIS and false once a neighbor did.
    * Throws if vertices remain after `maxRounds`.
    * Returns (mis DataFrame(id), rounds). */
  def misWithRounds(g: PropertyGraph, seed: Long = 42, maxRounds: Int = 50): (DataFrame, Int) = {
    val und = Structure.removeSelfLoops(Structure.symmetrize(g.edges.select(SRC, DST))).mat
    // seed from the VERTEX set (isolated vertices belong in every MIS;
    // edge-derived vertex lists would also NPE on edgeless subgraphs)
    val init = g.vertices.select(col(ID), priority(col(ID), seed).as("p"),
      lit(null).cast("boolean").as("status")).mat
    val (state, rounds, converged) = Iterate.fixpoint(init, maxRounds, -1L)({ (st, _) =>
      val rem = st.filter(col("status").isNull)
      // smallest neighbor priority among remaining vertices, per vertex
      val nbrBest = und
        .join(rem.select(col(ID).as(SRC)), SRC)
        .join(rem.select(col(ID).as(DST), col("p").as("np")), DST)
        .groupBy(col(SRC).as(ID))
        .agg(min(struct(col("np"), col(DST))).as("nb"))
      val winners = rem.join(nbrBest, Seq(ID), "left")
        .filter(col("nb").isNull ||
          struct(col("p"), col(ID)) < col("nb"))
        .select(ID)
      // winners' neighbors leave the arena
      val killed = und.join(winners.withColumnRenamed(ID, SRC), SRC)
        .select(col(DST).as(ID)).distinct()
      st.join(winners.withColumn("won", lit(true)), Seq(ID), "left")
        .join(killed.withColumn("lost", lit(false)), Seq(ID), "left")
        .select(col(ID), col("p"),
          coalesce(col("status"), col("won"), col("lost")).as("status"))
    }, Some(sum(when(col("status").isNull, 1L).otherwise(0L))), (_, _, nRem) => nRem == 0)
    Release.free(und)
    require(converged, s"MIS: vertices remain after $maxRounds rounds (raise maxRounds)")
    (state.filter(col("status")).select(ID), rounds)
  }

  def mis(g: PropertyGraph, seed: Long = 42): DataFrame = misWithRounds(g, seed)._1

  /** Greedy distributed coloring by repeated MIS: the r-th MIS over the
    * still-uncolored subgraph gets color r (reference
    * `vertex_coloring_impl.cuh` does exactly this). Returns (id, color). */
  def vertexColoring(g: PropertyGraph, seed: Long = 42, maxColors: Int = 100): DataFrame =
    vertexColoringWithStats(g, seed, maxColors)._1

  /** Coloring also returning (colors used, max MIS rounds) so oracle
    * queries can assert the unrolled color×round budget was sufficient.
    * The colors run on [[Iterate.fixpoint]] over the state (id, color),
    * color null while a vertex is uncolored; each round runs the nested
    * MIS over the uncolored subgraph. Throws if vertices remain uncolored
    * after `maxColors`. */
  def vertexColoringWithStats(g: PropertyGraph, seed: Long = 42,
                              maxColors: Int = 100): (DataFrame, Int, Int) = {
    val und = Structure.removeSelfLoops(Structure.symmetrize(g.edges.select(SRC, DST))).mat
    // seed from the VERTEX set, like misWithRounds above: isolated vertices
    // must be colored too (they trivially join the color-0 MIS)
    val init = g.vertices.select(col(ID), lit(null).cast("long").as("color")).mat
    var maxRounds = 0
    var m: DataFrame = null // the round's MIS, freed once the next state is materialized
    val (colors, nColors, converged) = Iterate.fixpoint(init, maxColors, -1L)({ (st, color) =>
      val remV = st.filter(col("color").isNull).select(ID)
      val subE = und
        .join(remV.withColumnRenamed(ID, SRC), SRC)
        .join(remV.withColumnRenamed(ID, DST), DST)
        .select(SRC, DST)
      val sub = PropertyGraph(remV, subE, g.props.copy(directed = false))
      val (mis, rounds) = misWithRounds(sub, seed + color)
      maxRounds = math.max(maxRounds, rounds)
      m = mis
      st.join(mis.withColumn("c", lit(color.toLong)), Seq(ID), "left")
        .select(col(ID), coalesce(col("color"), col("c")).as("color"))
    }, Some(sum(when(col("color").isNull, 1L).otherwise(0L))), { (_, _, nRem) =>
      Release.free(m)
      nRem == 0
    })
    Release.free(und)
    require(converged, s"coloring: vertices remain uncolored after $maxColors colors " +
      "(raise maxColors)")
    (colors, nColors, maxRounds)
  }

  /** Speculative coloring: hash-mod-k initial colors + iterative conflict
    * repair — the scale-viable alternative the repeated-MIS loop's ledger
    * row names. The reference ships only the MIS loop
    * (`vertex_coloring_impl.cuh`), whose wall is colors × MIS(remainder)
    * Spark rounds (2342.8s at scale 20).
    *
    * Per round: monochromatic edges are found (one scan of the cached edge
    * frame — the color table rides in on two TRACKED broadcast joins, so
    * the 2E rows are probed map-side, never exchanged), the LOWER-priority
    * endpoint of each must recolor, and every loser picks a
    * HASH-JITTERED color among those absent from its neighborhood
    * (candidates 0..#distinct-neighbor-colors, so one is always free —
    * colors stay ≤ maxdeg+1). The jitter is the convergence engine: the
    * first shipped version first-fit the SMALLEST free color, and the
    * scale-20 probe measured simultaneous adjacent losers re-picking the
    * same smallest value round after round — 100 repair rounds without
    * convergence (1928.1s, barely under the MIS loop it exists to beat).
    * With the pick spread hash-uniformly over each loser's free set,
    * adjacent losers collide with probability ~1/|free|, so the conflict
    * set decays geometrically instead of waiting on priority chains.
    * The candidate range is 0..2·#distinct-neighbor-colors+1, NOT the
    * first-fit-style 0..n: the scale-20 probe caught the narrow range
    * stalling too — in the dense hub core neighbor colors pack 0..n−1
    * densely, the free set collapses to the single value {n}, and
    * adjacent losers re-collide deterministically no matter the jitter.
    * Doubling the range guarantees ≥ n+2 free values per loser (collision
    * ≤ 1/(n+2)) at the price of a somewhat larger palette — exactly the
    * colors-for-rounds trade this strategy exists to make.
    * Deterministic given (seed, initColors) — the jitter is hash60 of
    * (id, round) — hence exactly DuckDB-unrollable
    * (MiscSql.fastColoringTree). Work per round is bounded by the conflict
    * set and its incident edges, not the whole graph.
    *
    * The repairs run on [[Iterate.fixpoint]] over the color table, with
    * the vertices a round recolored marked; the round that finds no
    * conflict recolors nothing and ends the loop (it is not counted as a
    * repair round). Throws if the conflict set is nonempty after
    * `maxRounds` repairs — a silent improper coloring is worse than a loud
    * failure.
    * @return (DataFrame(id, color), colors used, repair rounds run). */
  def fastColoringWithStats(g: PropertyGraph, seed: Long = 42, initColors: Int = 4,
                            maxRounds: Int = 50): (DataFrame, Long, Int) = {
    val und = Structure.removeSelfLoops(Structure.symmetrize(g.edges.select(SRC, DST))).mat
    val nV = g.numVertices
    def hinted(df: DataFrame) = Hint.state(df, nV)
    val init = g.vertices.select(col(ID),
      pmod(hash60(concat_ws("|", lit("color"), col(ID), lit(seed))),
        lit(initColors.toLong)).as("color"), lit(true).as(Recolored)).mat
    def pOf(c: org.apache.spark.sql.Column) =
      hash60(concat_ws("|", lit("colp"), c, lit(seed)))
    // the loser set is hinted by the previous round's loser count (the
    // first round's by |V|, which bounds it)
    var nLose = nV
    // a round's losers recolor and are marked; the round that finds none
    // changes nothing and ends the loop, so the cap is maxRounds repairs
    // plus that confirming round
    val (state, rounds, converged) = Iterate.fixpoint(init, maxRounds + 1, -1L)({ (st, r) =>
      val colors = st.select(col(ID), col("color"))
      // loser endpoint of every monochromatic edge (und carries both
      // directions, so evaluating the rule once per direction and
      // dedup-ing yields each conflict's single loser)
      val losers = und
        .join(hinted(colors.select(col(ID).as(SRC), col("color").as("ca"))), SRC)
        .join(hinted(colors.select(col(ID).as(DST), col("color").as("cb"))), DST)
        .filter(col("ca") === col("cb"))
        .select(when(struct(pOf(col(SRC)), col(SRC)) > struct(pOf(col(DST)), col(DST)),
          col(SRC)).otherwise(col(DST)).as(ID)).distinct()
      // distinct neighbor colors of each loser (pre-update colors) — the
      // loser set broadcasts, so this too is a scan of the cached frame
      val nbrC = und.join(Hint.state(losers.withColumnRenamed(ID, SRC), nLose), SRC)
        .join(hinted(colors.select(col(ID).as(DST), col("color").as("nc"))), DST)
        .select(col(SRC).as(ID), col("nc")).distinct()
      // hash-jittered pick among the free candidates in 0..#colors-seen
      val w = org.apache.spark.sql.expressions.Window.partitionBy(ID)
      val pick = nbrC.groupBy(ID).agg(count(lit(1)).as("n"))
        .select(col(ID), explode(sequence(lit(0L), col("n") * 2 + 1)).as("c"))
        .join(nbrC.withColumnRenamed("nc", "c"), Seq(ID, "c"), "left_anti")
        .withColumn("rk", row_number().over(w.orderBy("c")))
        .withColumn("nf", count(lit(1)).over(w))
        .filter(col("rk") === lit(1) + pmod(
          hash60(concat_ws("|", lit("coljit"), col(ID), lit(r + 1), lit(seed))),
          col("nf")))
        .select(col(ID), col("c").as("newc"))
      colors.join(pick, Seq(ID), "left")
        .select(col(ID), coalesce(col("newc"), col("color")).as("color"),
          col("newc").isNotNull.as(Recolored))
    }, Some(sum(when(col(Recolored), 1L).otherwise(0L))), { (_, _, n) =>
      nLose = n
      n == 0
    })
    Release.free(und)
    require(converged, s"fastColoring: conflicts remain after $maxRounds repair rounds " +
      "(raise maxRounds; the jittered pick decays conflicts geometrically)")
    val colors = state.select(col(ID), col("color"))
    val nColors = colors.agg(coalesce(max("color"), lit(-1L))).first().getLong(0) + 1L
    (colors, nColors, rounds - 1)
  }

  /** Marks the vertices a [[fastColoringWithStats]] round recolored. */
  private val Recolored = "_recolored"

  /** Approximate weighted matching, fixed handshake rounds: every vertex
    * points at its heaviest remaining neighbor (key = weight·1e6 − dst,
    * deterministic tie-break), mutual pairs match and retire. Canonical
    * output (src < dst). Reference `approx_weighted_matching_impl.cuh`. */
  def weightedMatching(g: PropertyGraph, rounds: Int = 3): DataFrame = {
    val und = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false)).mat
    // the state is the remaining edge set (the first is und itself)
    var pairs: DataFrame = null
    val (remE, _, _) = Iterate.fixpoint(und, rounds, -1L)({ (remE, _) =>
      val best = remE.groupBy(SRC)
        .agg(max_by(col(DST), col(WEIGHT) * lit(1e6) - col(DST)).as("m"))
      val b2 = best.select(col(SRC).as("b_src"), col("m").as("b_m"))
      val matched = best.join(b2, col("m") === col("b_src") && col("b_m") === col(SRC))
        .filter(col(SRC) < col("m"))
        .select(col(SRC), col("m").as(DST)).mat
      // compact per round: `pairs` feeds the mv anti-joins below, so a lazy
      // union chain would replan r frames in round r (matched is tiny —
      // the checkpoint is one cheap job per round)
      if (pairs == null) pairs = matched
      else {
        val grown = pairs.union(matched).mat
        Release.free(pairs, matched)
        pairs = grown
      }
      val mv = pairs.select(col(SRC).as(ID)).union(pairs.select(col(DST).as(ID))).distinct()
      remE
        .join(mv.withColumnRenamed(ID, SRC), Seq(SRC), "left_anti")
        .join(mv.withColumnRenamed(ID, DST), Seq(DST), "left_anti")
    }, None, (_, _, _) => false)
    Release.free(remE)
    pairs
  }

  /** Exact linear assignment for square cost matrices, driver-side — the
    * analogue of the reference's dense single-GPU legacy Hungarian
    * (`linear_assignment/legacy/hungarian.cu`); a 100 TB engine only ever
    * calls this on collected small-to-mid problems (distributed scale goes
    * through [[auctionAssignment]]). Dispatch: n ≤ 20 keeps the subset DP
    * (its lexicographic tie-break is what the 8!-enumeration oracle pins);
    * 20 < n ≤ 2048 runs the O(n³) shortest-augmenting-path Hungarian with
    * potentials ([[assignmentJV]]) — exact on arbitrary doubles, unlike the
    * auction's ε-optimality on non-integral values. */
  def assignment(cost: Array[Array[Double]]): Array[Int] = {
    if (cost.length > 20) return assignmentJV(cost)
    assignmentDp(cost)
  }

  /** Subset-DP exact LAP (O(n²·2ⁿ), n ≤ 20), deterministic lexicographic
    * tie-break. */
  def assignmentDp(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    require(n <= 20, "driver-side LAP DP supports n <= 20")
    val full = (1 << n) - 1
    val dp = Array.fill(1 << n)(Double.MaxValue)
    val choice = Array.fill(1 << n)(-1)
    dp(0) = 0.0
    for (mask <- 0 until full) if (dp(mask) != Double.MaxValue) {
      val row = Integer.bitCount(mask)
      for (j <- 0 until n if (mask & (1 << j)) == 0) {
        val nm = mask | (1 << j)
        val v = dp(mask) + cost(row)(j)
        if (v < dp(nm)) { dp(nm) = v; choice(nm) = j }
      }
    }
    val res = Array.fill(n)(-1)
    var mask = full
    while (mask != 0) {
      val j = choice(mask)
      res(Integer.bitCount(mask) - 1) = j
      mask &= ~(1 << j)
    }
    res
  }

  /** O(n³) shortest-augmenting-path Hungarian with row/column potentials
    * (the Jonker–Volgenant shape): each row is inserted by a Dijkstra-like
    * scan over reduced costs, potentials keep them non-negative, and the
    * found alternating path augments the matching. Exact for arbitrary
    * double costs; deterministic (scans pick the smallest column index on
    * ties). Mid-size driver path — n ≤ 2048 keeps the n² matrix and the
    * n³ work comfortably on one core (~10⁹ ops at the cap). */
  def assignmentJV(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    require(n <= 2048, "driver-side LAP supports n <= 2048; use auctionAssignment beyond")
    require(cost.forall(_.length == n), "cost matrix must be square")
    val INF = Double.MaxValue / 4
    // 1-indexed: u,v potentials; p(j) = row matched to column j; way(j) =
    // previous column on the alternating path into j
    val u = new Array[Double](n + 1)
    val v = new Array[Double](n + 1)
    val p = new Array[Int](n + 1)
    val way = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(n + 1)(INF)
      val used = new Array[Boolean](n + 1)
      var augmenting = true
      while (augmenting) {
        used(j0) = true
        val i0 = p(j0)
        var delta = INF
        var j1 = -1
        var j = 1
        while (j <= n) {
          if (!used(j)) {
            val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= n) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
          j += 1
        }
        j0 = j1
        augmenting = p(j0) != 0
      }
      // unwind the alternating path
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
      i += 1
    }
    val res = new Array[Int](n)
    var j = 1
    while (j <= n) { if (p(j) != 0) res(p(j) - 1) = j - 1; j += 1 }
    res
  }

  /** DISTRIBUTED linear assignment via the Bertsekas Jacobi auction
    * (maximization form) — the scale path next to the driver-side
    * [[assignment]] DP (which mirrors the reference's dense single-GPU
    * legacy Hungarian, `linear_assignment/legacy/hungarian.cu`). `values`
    * = (i, j, v: long) person→object values; callers pre-scale integral
    * values by (n+1) so the unit bid increment ε = 1 guarantees an exact
    * optimum (total suboptimality < n·ε). Each round every unassigned
    * person bids best-net-minus-second-net + ε on its best object (join +
    * two hash aggs), each contested object takes the highest bid and
    * displaces the holder (one agg) — all tie-breaks by id, so the run is
    * deterministic under any partitioning; no driver-side matrix ever
    * materializes.
    *
    * Round count is governed by VALUE GAPS between competitors, not data
    * volume: near-tied bidders escalate by +ε per round, so callers keep
    * the integral value range as coarse as the needed optimum resolution
    * allows (the gate uses whole dollars, not cents — 100× shorter price
    * wars for the same argmax). Classical ε-scaling (phases with shrinking
    * ε and carried prices) was tried and REVERTED: clearing assignments
    * between phases re-bids everyone ~n·ratio rounds per phase on this
    * shape, costing more rounds than the flat ε = 1 run it replaced.
    * @return (assignment (i, j), rounds). */
  def auctionAssignment(values: DataFrame, maxRounds: Int = 500): (DataFrame, Int) = {
    val vals = values.select(col("i").cast("long"), col("j").cast("long"),
      col("v").cast("long")).mat
    val persons = vals.select("i").distinct().mat
    val nPersons = persons.count()
    // ONE object-state frame (j, price, holder) instead of separate prices
    // + assignment frames (r11-opt): the round's whole bid→win→update
    // pipeline rides the round's one materialize job — 2 jobs per round where the
    // old shape paid 5 (unassigned count, winners mat, prices mat, assign
    // mat + its scan). The per-round arithmetic (bids, winners, price and
    // holder updates, tie-breaks) is unchanged, so the assignment and the
    // round count are identical.
    val init = vals.select("j").distinct()
      .select(col("j"), lit(0L).as("p"), lit(null).cast("long").as("hi")).mat
    val (state, rounds, converged) = Iterate.fixpoint(init, maxRounds, -1L)({ (state, _) =>
      val unassigned = persons.join(
        state.filter(col("hi").isNotNull).select(col("hi").as("i")),
        Seq("i"), "left_anti")
      val cand = vals.join(unassigned, "i")
        .join(state.select(col("j"), col("p")), "j")
        .select(col("i"), col("j"), (col("v") - col("p")).as("net"), col("p"))
      // best object per person (net desc, j asc) with its price…
      val b1 = cand.groupBy("i")
        .agg(max_by(struct(col("j"), col("net"), col("p")),
          struct(col("net"), (-col("j")).as("nj"))).as("b"))
        .select(col("i"), col("b.j").as("j"), col("b.net").as("net1"),
          col("b.p").as("p1"))
      // …and the runner-up net (absent for 1-object problems → -2^40
      // stands in for the -infinity reservation value)
      val b2 = cand.join(b1.select(col("i"), col("j").as("bj")), "i")
        .filter(col("j") =!= col("bj"))
        .groupBy("i").agg(max(col("net")).as("net2"))
      val bids = b1.join(b2, Seq("i"), "left")
        .select(col("i"), col("j"),
          (col("p1") + col("net1") -
            coalesce(col("net2"), lit(-(1L << 40))) + lit(1L)).as("bid"))
      val winners = bids.groupBy("j")
        .agg(max_by(struct(col("i"), col("bid")),
          struct(col("bid"), (-col("i")).as("ni"))).as("w"))
        .select(col("j").as("wj"), col("w.i").as("wi"), col("w.bid").as("bid"))
      state.join(winners, col("j") === col("wj"), "left")
        .select(col("j"), coalesce(col("bid"), col("p")).as("p"),
          coalesce(col("wi"), col("hi")).as("hi"))
    }, Some(sum(when(col("hi").isNotNull, 1L).otherwise(0L))),
      (_, _, nAssigned) => nAssigned == nPersons)
    Release.free(vals, persons)
    require(converged, s"auction did not complete within $maxRounds rounds")
    (state.filter(col("hi").isNotNull).select(col("hi").as("i"), col("j")), rounds)
  }

  /** ForceAtlas2-shaped layout: attraction along edges + cell-binned
    * repulsion, TWO-LEVEL QUADTREE by default (the Barnes-Hut far/near
    * opening criterion discretized to two fixed levels, as groupBy(cell) —
    * reference `layout/legacy/barnes_hut.cuh`): near-field cells (parent
    * coarse cell within Chebyshev distance 1 of the vertex's coarse cell)
    * contribute at FINE `gridSize`×`gridSize` resolution, the far field
    * collapses to `gridSize/4`-grid coarse centroids. Vs the r4 flat grid
    * this quadruples near-field resolution (16 vs 8 per axis) while the
    * per-vertex contribution table stays O(1) broadcast rows (≤ 256 fine +
    * 16 coarse). `quadtree = false` keeps the flat `gridSize`-cell grid
    * (the quality-comparison baseline in MiscSpec).
    * Deterministic hash init; `iters` bounded force rounds.
    * Output (id, x, y) in [0,1]². */
  def forceAtlas2(g: PropertyGraph, iters: Int = 5, gridSize: Int = 16,
                  step: Double = 0.05, seed: Long = 42,
                  quadtree: Boolean = true,
                  posList: Option[DataFrame] = None,
                  gravity: Double = 0.0,
                  scalingRatio: Double = 2.0): DataFrame = {
    // Option surface matching the reference signature
    // (`layout/force_atlas2.py:50`): `posList` = pos_list warm start
    // (id, x, y — missing vertices fall back to the hash init), `gravity`
    // pulls toward the layout center (0.5, 0.5 in our unit square; the
    // reference pulls to the origin of its unbounded plane), and
    // `scalingRatio` scales repulsion. Defaults preserve the gated layout
    // bit-for-bit: gravity 0 and scalingRatio 2.0 reproduce the original
    // 0.01 repulsion coefficient exactly.
    val coarseN = math.max(gridSize / 4, 1)
    val und = Structure.symmetrize(g.edges.select(SRC, DST)).mat
    val u01x = hash60(concat_ws("|", lit("fa2x"), col(ID), lit(seed))).cast("double") / lit(math.pow(2, 60))
    val u01y = hash60(concat_ws("|", lit("fa2y"), col(ID), lit(seed))).cast("double") / lit(math.pow(2, 60))
    val repCoeff = 0.01 * scalingRatio / 2.0
    val hashInit = Structure.extractVertexList(g.edges)
      .select(col(ID), u01x.as("x"), u01y.as("y"))
    val pos0 = (posList match {
      case Some(p0) =>
        val cols = p0.columns
        hashInit.join(p0.select(col(cols(0)).as(ID), col(cols(1)).as("wx"),
            col(cols(2)).as("wy")), Seq(ID), "left")
          .select(col(ID), coalesce(col("wx"), col("x")).as("x"),
            coalesce(col("wy"), col("y")).as("y"))
      case None => hashInit
    }).mat
    // shared repulsion kernel against a centroid table (mx, my, cnt)
    def kernel() = (
      ((col("x") - col("mx")) * col("cnt") /
        (pow(col("x") - col("mx"), 2) + pow(col("y") - col("my"), 2) + lit(1e-4))).as("rx"),
      ((col("y") - col("my")) * col("cnt") /
        (pow(col("x") - col("mx"), 2) + pow(col("y") - col("my"), 2) + lit(1e-4))).as("ry"))
    val (pos, _, _) = Iterate.fixpoint(pos0, iters, -1L)({ (pos, _) =>
      // attraction: pull toward neighbor positions (sum of deltas)
      val att = und
        .join(pos.select(col(ID).as(SRC), col("x").as("sx"), col("y").as("sy")), SRC)
        .join(pos.select(col(ID).as(DST), col("x").as("dx_"), col("y").as("dy_")), DST)
        .groupBy(col(SRC).as(ID))
        .agg(sum(col("dx_") - col("sx")).as("ax"), sum(col("dy_") - col("sy")).as("ay"))
      // fine cells: counts + centroids at gridSize resolution
      val cells = pos.select(floor(col("x") * gridSize).as("cx"),
          floor(col("y") * gridSize).as("cy"), col("x"), col("y"))
        .groupBy("cx", "cy")
        .agg(count(lit(1)).as("cnt"), avg("x").as("mx"), avg("y").as("my"))
      val rep =
        if (!quadtree) {
          val (rx, ry) = kernel()
          pos.crossJoin(broadcast(cells))
            .select(col(ID), col("x"), col("y"), rx, ry)
            .groupBy(ID).agg(first("x").as("x"), first("y").as("y"),
              sum("rx").as("rx"), sum("ry").as("ry"))
        } else {
          // coarse cells derived FROM the fine table (weighted centroids) —
          // the oracle mirrors this exact derivation, and the per-round
          // 1e-8 position snap absorbs cross-engine sum association
          val coarse = cells
            .groupBy(floor(col("cx") / 4).cast("long").as("px"),
              floor(col("cy") / 4).cast("long").as("py"))
            .agg(sum(col("cnt")).as("cnt"),
              (sum(col("mx") * col("cnt")) / sum(col("cnt"))).as("mx"),
              (sum(col("my") * col("cnt")) / sum(col("cnt"))).as("my"))
          val pc = pos.select(col(ID), col("x"), col("y"),
            floor(col("x") * coarseN).as("vcx"), floor(col("y") * coarseN).as("vcy"))
          val fineP = cells.select(col("cnt"), col("mx"), col("my"),
            floor(col("cx") / 4).cast("long").as("px"),
            floor(col("cy") / 4).cast("long").as("py"))
          val (nrx, nry) = kernel()
          val near = pc.crossJoin(broadcast(fineP))
            .filter(abs(col("px") - col("vcx")) <= 1 && abs(col("py") - col("vcy")) <= 1)
            .select(col(ID), col("x"), col("y"), nrx, nry)
          val (frx, fry) = kernel()
          val far = pc.crossJoin(broadcast(coarse))
            .filter(abs(col("px") - col("vcx")) > 1 || abs(col("py") - col("vcy")) > 1)
            .select(col(ID), col("x"), col("y"), frx, fry)
          // every vertex hits ≥ 1 near cell (its own), so the union keys
          // cover all ids — no left-join backfill needed
          near.union(far)
            .groupBy(ID).agg(first("x").as("x"), first("y").as("y"),
              sum("rx").as("rx"), sum("ry").as("ry"))
        }
      // snap to a 1e-8 grid each round: float-sum association differs across
      // partitionings (and engines), and without the snap an ulp of drift
      // compounds through floor(x*grid) cell binning into divergent layouts
      rep.join(att, Seq(ID), "left")
        .select(col(ID),
          round(least(greatest(col("x") + lit(step) * (coalesce(col("ax"), lit(0.0)) * 0.1 + col("rx") * lit(repCoeff)
            + lit(gravity) * (lit(0.5) - col("x"))), lit(0.0)), lit(1.0)), 8).as("x"),
          round(least(greatest(col("y") + lit(step) * (coalesce(col("ay"), lit(0.0)) * 0.1 + col("ry") * lit(repCoeff)
            + lit(gravity) * (lit(0.5) - col("y"))), lit(0.0)), lit(1.0)), 8).as("y"))
    }, None, (_, _, _) => false)
    Release.free(und)
    pos
  }
}
