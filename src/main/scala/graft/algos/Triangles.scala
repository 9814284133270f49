package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Release}

/** Triangle counting and k-truss.
  *
  * Reference: `community/triangle_count_impl.cuh` (decl `algorithms.hpp:1871`),
  * `community/k_truss_impl.cuh` (`algorithms.hpp:1923`).
  *
  * Plan shape: canonical orientation (src<dst on the symmetrized graph) then
  * the classic two-path self-join + closing-edge semi-join. With the canonic
  * orientation every triangle {a<b<c} is counted exactly once as
  * (a,b)⋈(b,c)⋈(a,c). Both joins shuffle on a single vertex key. Triangle
  * ENUMERATION keeps id order because the oracle must reproduce its (a,b,c)
  * output in SQL; the per-edge SUPPORT kernel (whose value is
  * orientation-invariant) re-orients by degree internally and canonicalizes
  * its output keys — the arboricity-bounded wedge stream at scale — see
  * [[edgeSupportOf]].
  */
object Triangles {
  import Gr._

  /** Canonically-oriented edge list of the undirected simple graph. */
  def oriented(g: PropertyGraph, orientByDegree: Boolean = false): DataFrame = {
    val canon = Structure.canonicalize(Structure.symmetrize(g.edges.select(SRC, DST)))
    if (!orientByDegree) canon.select(SRC, DST)
    else {
      // orient low-degree → high-degree (tie: smaller id first): bounds
      // per-vertex out-fanout by O(sqrt(E)) on any graph.
      val deg = canon.select(col(SRC).as(ID)).union(canon.select(col(DST).as(ID)))
        .groupBy(ID).agg(count(lit(1)).as("d"))
      canon
        .join(deg.select(col(ID).as(SRC), col("d").as("d_src")), SRC)
        .join(deg.select(col(ID).as(DST), col("d").as("d_dst")), DST)
        .select(
          when(col("d_src") < col("d_dst") ||
               (col("d_src") === col("d_dst") && col(SRC) < col(DST)), col(SRC))
            .otherwise(col(DST)).as(SRC),
          when(col("d_src") < col("d_dst") ||
               (col("d_src") === col("d_dst") && col(SRC) < col(DST)), col(DST))
            .otherwise(col(SRC)).as(DST))
    }
  }

  /** All triangles as (a,b,c) rows with a<b<c (id orientation). The closing
    * semi-join broadcasts the edge list when it is small enough — the wedge
    * stream (Σ deg², the dominant intermediate) then never shuffles. */
  def enumerate(g: PropertyGraph): DataFrame = {
    val e = oriented(g).mat
    enumerateOf(e, e.count())
  }

  private def enumerateOf(e: DataFrame, nE: Long): DataFrame = {
    val ab = e.select(col(SRC).as("a"), col(DST).as("b"))
    val bc = e.select(col(SRC).as("b"), col(DST).as("c"))
    val ac = e.select(col(SRC).as("a"), col(DST).as("c"))
    ab.join(bc, "b").join(Hint.state(ac, nE), Seq("a", "c"), "left_semi")
      .select("a", "b", "c")
  }

  /** Per-vertex triangle count (reference `triangle_count.py:34`).
    * One streaming pass: each triangle explodes into its three corners
    * feeding the hash agg directly — the O(#triangles) stream is never
    * checkpointed or rescanned. @return DataFrame(id, triangle_count). */
  def countPerVertex(g: PropertyGraph): DataFrame = {
    val counts = enumerate(g)
      .select(explode(array(col("a"), col("b"), col("c"))).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("triangle_count"))
    g.vertices.select(ID).join(counts, Seq(ID), "left")
      .select(col(ID), coalesce(col("triangle_count"), lit(0L)).as("triangle_count"))
  }

  /** Total triangle count. */
  def countTotal(g: PropertyGraph): Long = enumerate(g).count()

  /** Per-edge triangle support (edge_triangle_count, `algorithms.hpp:1898`):
    * number of triangles each canonical edge participates in. */
  def edgeSupport(g: PropertyGraph): DataFrame = {
    val e = oriented(g).mat
    edgeSupportOf(e)
  }

  private def edgeSupportOf(e: DataFrame): DataFrame = {
    val nE = e.count()
    val verts = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).distinct().mat
    val nV = verts.count()
    // Density > 1/2: count over the COMPLEMENT instead. For an edge (u,v),
    // u ∈ N(v) and v ∈ N(u), so |N(u)∪N(v)| = |V| − |C(u)∩C(v)| where C(x)
    // is x's complement neighborhood — hence
    //   support(u,v) = d(u) + d(v) − |V| + |common complement neighbors|.
    // The complement edge list is SMALLER than e in this branch (≤ 2·|E|
    // candidate pairs, so the verts×verts build is O(|E|), not a real
    // cross join), and its Σ deg² wedge stream shrinks quadratically with
    // 1−density — on a 90%-dense graph it is ~20x cheaper than streaming
    // the direct wedges.
    if (nV > 2 && nE * 4 > nV * (nV - 1)) {
      val comp = verts.select(col(ID).as(SRC)).crossJoin(verts.select(col(ID).as(DST)))
        .filter(col(SRC) < col(DST))
        .join(e.select(SRC, DST), Seq(SRC, DST), "left_anti").mat
      Release.free(verts)
      val cund = comp.select(SRC, DST)
        .union(comp.select(col(DST).as(SRC), col(SRC).as(DST)))
      val inter = cund.select(col(SRC).as("mid"), col(DST).as("u"))
        .join(cund.select(col(SRC).as("mid"), col(DST).as("v")), "mid")
        .filter(col("u") < col("v"))
        .groupBy(col("u").as(SRC), col("v").as(DST)).agg(count(lit(1)).as("cc"))
      val deg = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID)))
        .groupBy(ID).agg(count(lit(1)).as("d"))
      return e
        .join(deg.select(col(ID).as(SRC), col("d").as("ds")), SRC)
        .join(deg.select(col(ID).as(DST), col("d").as("dd")), DST)
        .join(inter, Seq(SRC, DST), "left")
        .select(col(SRC), col(DST),
          (col("ds") + col("dd") - lit(nV) + coalesce(col("cc"), lit(0L))).as("support"))
    }
    Release.free(verts)
    val bounds = e.agg(least(min(SRC), min(DST)), greatest(max(SRC), max(DST))).first()
    val sup =
      if (!bounds.isNullAt(0) && bounds.getLong(0) >= 0 && bounds.getLong(1) < (1L << 31)) {
        // pack (src,dst) into one long: the wedge stream then probes a
        // single-long hash set and the O(#triangles) explode aggregates on
        // a single-long key — ~1.5x the struct-key pipeline
        def pk(a: Column, b: Column) = shiftleft(a, 32) + b
        val ep = e.select(pk(col(SRC), col(DST)).as("pe"))
        // closing-edge set gate: packed longs are 8 bytes/row and build a
        // LongHashedRelation, so the broadcastable ceiling sits far past
        // the generic 5M state-frame gate (32M keys ≈ a few hundred MB —
        // executor-sized, not driver-fragile). Keeping the probe map-side
        // is what keeps the WEDGE stream — the dominant intermediate —
        // out of the exchange entirely; past the gate the semi-join
        // degrades to a shuffle and the wedge volume is the bill.
        val epB = Hint.state(ep, nE, maxRows = 32000000L)
        // Degree-ordered wedge enumeration (r11 — the ledger's named
        // lever). Support is orientation-INVARIANT, so the oracle
        // constraint that pins `oriented()` to id order (its (a,b,c)
        // OUTPUT must be SQL-reproducible) does not bind here: re-orient
        // each edge low-degree → high-degree (tie: lower id) privately,
        // and canonicalize every emitted key back to id order. Each
        // triangle is then found exactly once at its min-(deg,id)
        // corner — the only corner with out-edges to both others — and
        // the wedge volume drops from Σ indeg·outdeg to Σ C(outdeg,2)
        // with outdeg bounded by O(√E) under this orientation
        // (arboricity bound; Chiba–Nishizeki / compact-forward).
        val deg = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID)))
          .groupBy(ID).agg(count(lit(1)).as("d"))
        val degB = Hint.state(deg, nV)
        val low = col("ds") < col("dd") ||
          (col("ds") === col("dd") && col(SRC) < col(DST))
        val ow = e
          .join(degB.select(col(ID).as(SRC), col("d").as("ds")), SRC)
          .join(degB.select(col(ID).as(DST), col("d").as("dd")), DST)
          .select(when(low, col(SRC)).otherwise(col(DST)).as("a"),
                  when(low, col(DST)).otherwise(col(SRC)).as("b"))
        // out-neighbor lists of the min corner: ONE |E|-row exchange
        // into a |V|-key agg; a list row stays KB-sized even at the
        // hubs because outdeg ≤ O(√E) here. Wedges (unordered out-pairs,
        // deduped by id order b<c) are then generated map-side by a
        // nested explode — the Σ C(outdeg,2) stream never shuffles.
        val adjl = ow.groupBy("a").agg(collect_list(col("b")).as("ns"))
        adjl.select(col("a"), explode(col("ns")).as("b"), col("ns"))
          .select(col("a"), col("b"), explode(col("ns")).as("c"))
          .filter(col("b") < col("c"))
          .join(epB, pk(col("b"), col("c")) === col("pe"), "left_semi")
          .select(explode(array(
            pk(least(col("a"), col("b")), greatest(col("a"), col("b"))),
            pk(least(col("a"), col("c")), greatest(col("a"), col("c"))),
            pk(col("b"), col("c")))).as("pe"))
          .groupBy("pe").agg(count(lit(1)).as("support"))
          .select(shiftright(col("pe"), 32).as(SRC),
            col("pe").bitwiseAND(lit((1L << 32) - 1)).as(DST), col("support"))
      } else {
        // one streaming pass: triangle → its three edges → hash agg (see
        // countPerVertex)
        enumerateOf(e, nE)
          .select(explode(array(
            struct(col("a").as(SRC), col("b").as(DST)),
            struct(col("b").as(SRC), col("c").as(DST)),
            struct(col("a").as(SRC), col("c").as(DST)))).as("t"))
          .select(col(s"t.$SRC"), col(s"t.$DST"))
          .groupBy(SRC, DST).agg(count(lit(1)).as("support"))
      }
    e.join(sup, Seq(SRC, DST), "left")
      .select(col(SRC), col(DST), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** k-truss subgraph (reference `ktruss_subgraph.py:11`): iteratively drop
    * edges with support < k-2 until fixpoint. Returns canonical edges. */
  def kTruss(g: PropertyGraph, k: Int, maxIter: Int = 100): DataFrame =
    kTrussWithRounds(g, k, maxIter)._1

  /** k-truss also returning the number of peel rounds until fixpoint (for
    * oracle round-budget assertions), the confirming round included.
    *
    * INCREMENTAL support maintenance (the reference's `k_truss_impl.cuh`
    * shape): the full Σ deg² wedge stream is paid ONCE for the initial
    * per-edge support (streamed straight into the hash agg — the triangle
    * set itself is never materialized, which matters on dense graphs where
    * #triangles ≫ E). Each peel round then enumerates only the triangles
    * that contain a deleted edge — wedges seeded FROM the deleted set, one
    * pattern per triangle-edge position, O(|del|·deg) not O(Σ deg²) — and
    * subtracts their contribution from the survivors' support. A triangle
    * with 2+ deleted edges is found by several patterns and deduplicated so
    * it decrements exactly once.
    *
    * The peel runs on [[Iterate.fixpoint]] over (src, dst, support). The
    * metric is the next round's delete count, which the stop rule keeps
    * and stops at 0, so neither `del` (a filter of the state) nor `dec` is
    * materialized. `dec` is sized by a bound: every dead triangle holds a
    * deleted edge, which (support ≤ k−3) lies in at most k−3 live
    * triangles, so `dec` has at most 3·|del|·(k−3) rows. Throws if
    * `maxIter` peel rounds end before the fixpoint.
    *
    * Two scale regimes on top of that shape (r11 — the scale-20 probe
    * measured the unregimed loop's wall as round-1 BULK maintenance,
    * Σ_del·deg over a 5M-row deleted set):
    *  1. (k−1)-core pre-restriction: every edge of a k-truss lies in ≥ k−2
    *     triangles inside the truss, so both endpoints have degree ≥ k−1
    *     there — truss ⊆ (k−1)-core. The direct degree peel (a handful of
    *     cascade agg rounds) removes the power-law periphery BEFORE the
    *     Σ deg² support pass, so the bulk of what round 1 used to delete
    *     never enters the wedge stream at all.
    *  2. Bulk-round regime switch: a round whose deleted set is a large
    *     fraction of the live frame (≥ `bulkRecomputeFrac`) recomputes
    *     support from scratch on the survivors — one Σ deg² pass over the
    *     SMALLER surviving graph — instead of seeding wedges from the huge
    *     del (Σ_del·deg wedge volume plus five full-frame joins). Cascade
    *     rounds (the common tail) keep the broadcast-seeded incremental
    *     path. Both maintenance forms compute the survivors' support in the
    *     survivor graph exactly, and the peel is confluent — any grouping
    *     of deletions converges to the same maximal fixpoint — so the
    *     regimes are bit-identical (A/B-asserted in AlgoSpec).
    *
    * `bulkRecomputeFrac` default 0.02: the r11 degree-ordered support
    * kernel (broadcast closing probe + arboricity-bounded wedges) made the
    * full recompute ~5-9× cheaper (141.0s initial / 70.3s over 10.7M
    * survivors at scale 20) while the incremental path stayed linear in
    * Σ_del·deg (361.9s at del=265k, 63.7s at del=48k — same probe). The
    * measured crossover sits near del ≈ 1-2% of the live frame, not the
    * 25% the pre-r11 cost ratio implied; cascade tails (del ≪ 1%) still
    * take the broadcast-seeded incremental path. */
  def kTrussWithRounds(g: PropertyGraph, k: Int, maxIter: Int = 100,
                       bulkRecomputeFrac: Double = 0.02): (DataFrame, Int) = {
    // truss ⊆ (k−1)-core (see above); kCore peels at the level directly.
    // k ≤ 3 gives a ≤2-core whose peel mostly spins (or is the identity),
    // while the support filter at k−2 ≤ 1 does the same work — skip it.
    // kCore's result is already a materialized frame
    val e0 =
      if (k >= 4) Components.kCore(g, k - 1)
      else oriented(g).mat
    // Dense-graph fast path: support(u,v) = |N(u)∩N(v)| ≥ d(u)+d(v)−|V|
    // (inclusion–exclusion). If EVERY edge clears the truss threshold by
    // that bound, round 1 deletes nothing, so the peel is already at
    // fixpoint and the whole graph is the k-truss — the Σ deg² support
    // pass (the dominant cost) is skipped outright. Two scalar aggs decide.
    val nV = e0.select(col(SRC).as(ID)).union(e0.select(col(DST).as(ID))).distinct().count()
    val deg = e0.select(col(SRC).as(ID)).union(e0.select(col(DST).as(ID)))
      .groupBy(ID).agg(count(lit(1)).as("d"))
    val minRow = e0
      .join(deg.select(col(ID).as(SRC), col("d").as("ds")), SRC)
      .join(deg.select(col(ID).as(DST), col("d").as("dd")), DST)
      .agg(min(col("ds") + col("dd"))).first()
    val minDegSum = if (minRow.isNullAt(0)) Long.MaxValue else minRow.getLong(0)
    if (minDegSum == Long.MaxValue || minDegSum - nV >= k - 2)
      return (e0.select(SRC, DST), 1)
    // (src, dst, support); freeing the support frame frees e0 with it
    val sup0 = edgeSupportOf(e0)
    val alive0 = sup0.mat
    Release.free(sup0)
    val dying = col("support") < k - 2
    val delCount = coalesce(sum(when(dying, 1L)), lit(0L))
    // one scan for the live-edge and first delete counts; the live count is
    // then maintained arithmetically (del rows are distinct live edges), so
    // the bulk-regime gate costs zero extra jobs per round
    val c0 = alive0.agg(count(lit(1)), delCount).first()
    var nAlive = c0.getLong(0)
    var nDel = c0.getLong(1)
    var survivors: DataFrame = null // the bulk round's edge set
    def tri(d: DataFrame, p1: String, p2: String): DataFrame =
      d.select(col(SRC).as(p1), col(DST).as(p2))
    val (alive, rounds, _) = Iterate.fixpoint(alive0, if (nDel == 0) 0 else maxIter, -1L)({ (alive, _) =>
      val del = alive.filter(dying).select(SRC, DST)
      val bulk = nDel >= bulkRecomputeFrac * nAlive
      nAlive -= nDel
      if (bulk) {
        // bulk regime: one Σ deg² support recompute over the survivors —
        // strictly cheaper than Σ_del·deg wedge maintenance once del is a
        // large fraction of the frame (the survivors are the SMALLER side,
        // and the five full-frame joins of the incremental path vanish)
        survivors = alive.filter(col("support") >= k - 2).select(SRC, DST).mat
        edgeSupportOf(survivors)
      } else {
        val e = alive.select(SRC, DST) // edge set at the start of the round
        // each pattern SEEDS from del — |del| ⋈ E on one vertex key, then a
        // closing semi-join — so no pattern replays the full wedge stream.
        // When the round's deleted set fits the state gate (every round but
        // the first bulk deletion, on power-law graphs), del is BROADCAST
        // into the seed joins so the 16M+-row alive frame is SCANNED, never
        // shuffled; the three per-pattern closing semi-joins collapse into
        // ONE (closing keys made explicit and unioned before the check);
        // and the support update is map-only (del + decrement table both
        // broadcast). The r10 scale-20 probe measured the unhinted loop at
        // 1765.8s: ~100 cascade rounds each paying ~5 full-frame shuffles
        // (3 closing semi-joins + the anti/left update pair) for a
        // few-thousand-row deletion — the same tracked-size discipline as
        // every other loop cuts the tail round to broadcast scans.
        // del's broadcast gate is TIGHTER than Hint.state's default 5M
        // (ADVICE r10): the scale-20 round-1 bulk deletion measured 5.0M
        // rows — right at the default gate — and whether the bulk round
        // broadcasts a ~5M-row build side into four joins must not flip
        // with small graph-size changes. 1M admits every genuine cascade
        // tail while the acknowledged bulk round keeps the shuffled plan.
        val delB = Hint.state(del, nDel, maxRows = 1000000L)
        // wedge candidates with the closing edge (cu, cv) explicit; all
        // three triangle edges are canonically oriented (a<b<c), so the
        // closing key per pattern is fixed at plan time
        val asAB = tri(delB, "a", "b") // deleted edge at position (a,b)
          .join(e.select(col(SRC).as("b"), col(DST).as("c")), "b")
          .select(col("a"), col("b"), col("c"), col("a").as("cu"), col("c").as("cv"))
        val asBC = tri(delB, "b", "c") // position (b,c)
          .join(e.select(col(SRC).as("a"), col(DST).as("b")), "b")
          .select(col("a"), col("b"), col("c"), col("a").as("cu"), col("c").as("cv"))
        val asAC = tri(delB, "a", "c") // position (a,c)
          .join(e.select(col(SRC).as("a"), col(DST).as("b")), "a")
          .select(col("a"), col("b"), col("c"), col("b").as("cu"), col("c").as("cv"))
        val cand = asAB.union(asBC).union(asAC)
        // one closing check for all patterns: wedge (a,b,c) is a dead
        // triangle iff its closing edge is still alive. The e side is the
        // big frame; the wedge side is O(|del|·deg) — small on cascade
        // rounds — so this is the round's only full-frame exchange.
        val dead = cand
          .join(e.select(col(SRC).as("cu"), col(DST).as("cv")), Seq("cu", "cv"), "left_semi")
          .select("a", "b", "c")
          .distinct()
        val dec = dead
          .select(explode(array(
            struct(col("a").as(SRC), col("b").as(DST)),
            struct(col("b").as(SRC), col("c").as(DST)),
            struct(col("a").as(SRC), col("c").as(DST)))).as("t"))
          .select(col(s"t.$SRC"), col(s"t.$DST"))
          .groupBy(SRC, DST).agg(count(lit(1)).as("dec"))
        alive.join(delB, Seq(SRC, DST), "left_anti")
          .join(Hint.state(dec, 3L * nDel * (k - 3)), Seq(SRC, DST), "left")
          .select(col(SRC), col(DST),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
      }
    }, Some(delCount), { (_, _, m) =>
      Release.free(survivors)
      survivors = null
      nDel = m
      m == 0
    })
    // nDel is the delete count of the returned state: 0 iff it is the truss
    require(nDel == 0, s"kTruss: edges below support ${k - 2} remain after $maxIter peel rounds")
    // + the confirming round, which found nothing to delete
    (alive.select(SRC, DST), rounds + 1)
  }
}
