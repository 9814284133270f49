package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Regime, Release}

/** Connected components, core decomposition, and related fixpoint programs.
  *
  * Reference: `components/weakly_connected_components_impl.cuh` (WCC),
  * `cores/core_number_impl.cuh` (peeling), `cores/k_core_impl.cuh`.
  */
object Components {
  import Gr._

  /** Weakly connected components — min-label propagation to fixpoint.
    * Reference `components/connectivity.py:86`. Label = smallest vertex id
    * in the component. Each round: one aggregate-messages shuffle; rounds ≤
    * graph diameter. For power-law graphs diameter is small; for
    * pathological chains the large-star/small-star variant would bound
    * rounds at O(log V) — diameter loops suffice for our workloads and the
    * loop is lineage-checkpointed either way.
    * @return DataFrame(id, component). */
  def wcc(g: PropertyGraph, maxIter: Int = 50): DataFrame = wccWithRounds(g, maxIter)._1

  /** WCC returning (labels, roundsUntilFixpoint). The round count lets oracle
    * queries ASSERT the Spark side converged within the oracle's unrolled
    * budget instead of silently relying on a low-diameter fixture.
    *
    * Label propagation costs one shuffle per round but needs O(diameter)
    * rounds — ideal for the power-law graphs this engine mostly sees. If
    * the diameter exceeds `starSwitch`, the loop abandons propagation and
    * restarts with [[wccStar]], whose round count is O(log² V) regardless
    * of diameter (pathological chains, lattices). */
  /** `assumeSymmetric` (or a graph whose `props.symmetric` is set): both
    * directions of every edge are present — the symmetrize shuffle (a full
    * distinct of the edge set) is skipped and the edge frame is
    * materialized as-is for the round loop. */
  def wccWithRounds(g: PropertyGraph, maxIter: Int = 50,
                    starSwitch: Int = 12,
                    assumeSymmetric: Boolean = false): (DataFrame, Int) = {
    val nV = g.numVertices
    // the symmetrize is an edge-keyed distinct, so it runs before the
    // vertex-sized regime scope below, under the session's planning
    val und = (if (assumeSymmetric || g.props.symmetric) g.edges.select(SRC, DST)
               else Structure.symmetrize(g.edges.select(SRC, DST))).mat
    // the whole propagation (label setup and rounds) in one regime scope:
    // both per-round joins are Hint.state-hinted or V-row-sized
    val (labels, it, converged) = Regime.scope(g.spark, nV) {
      Iterate.fixpoint(g.vertices.select(col(ID), col(ID).as("component")).mat,
          math.min(maxIter, starSwitch), nV)({ (st, _) =>
        val labels = st.select(col(ID), col("component"))
        val nbrMin = und.join(Hint.state(labels.withColumnRenamed(ID, SRC), nV), SRC)
          .groupBy(col(DST).as(ID)).agg(min("component").as("nbr_min"))
        // labels ⋈ nbrMin is V-row × V-row (r11-opt): un-hinted — a
        // broadcast of nbrMin bought no scan-in-place of a bigger side and
        // cost one build job per round; the plain join rides the
        // materialize job at the scoped width.
        labels.join(nbrMin, Seq(ID), "left")
          .select(col(ID), col("component").as("old"),
            least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
      },
        // the changed-label count rides the materialization job
        Some(sum(when(col("component") < col("old"), 1L).otherwise(0L))),
        (_, _, changed) => changed == 0)
    }
    if (!converged) {
      // still moving after `starSwitch` sweeps — the diameter is large;
      // switch to the star-contraction algorithm (it re-reads g.edges, not
      // this frame, so the propagation state and edge copy are dead)
      Release.free(labels, und)
      val (starLabels, starRounds) = wccStar(g, maxIter)
      return (starLabels, it + starRounds)
    }
    // the symmetrized edge copy is dead (the returned labels are
    // materialized); `it` counts rounds incl. the no-change confirmation
    Release.free(und)
    (labels.select(col(ID), col("component")), it)
  }

  /** Large-star/small-star WCC (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii — "Connected Components in MapReduce and Beyond",
    * SoCC'14): alternately hang every large neighbor of a vertex under its
    * minimum neighbor (large-star) and fold the small side into it
    * (small-star) until the edge set is a star forest — O(log² V) rounds
    * on ANY topology, each round two groupBy+join shuffles over the pair
    * set, which shrinks monotonically toward one edge per non-root vertex.
    * @return (DataFrame(id, component), rounds). */
  def wccStar(g: PropertyGraph, maxIter: Int = 50): (DataFrame, Int) = {
    val pairs0 = Structure.canonicalize(
      Structure.symmetrize(g.edges.select(SRC, DST))).select(SRC, DST).mat
    var nPairs = pairs0.count()
    // AQE off for the star rounds when the initial pair set clears the
    // broadcast gate (pairs never grow under star contraction, so the
    // per-round st() gate below stays satisfiable): every join inside is
    // then explicitly broadcast-hinted and AQE's per-exchange stage jobs
    // are pure scheduler floor — see prims.Aqe.
    // (gated on the round's adjacency, twice the pair set; width by pairs)
    val (pairs, it, _) = Iterate.fixpoint(pairs0, if (nPairs == 0) 0 else maxIter,
        2 * nPairs, nPairs)({ (pairs, _) =>
      // large-star: per vertex u, m = min(u, N(u)); every neighbor v > u
      // re-hangs onto m. No dedup here — the min-aggregations downstream
      // are duplicate-insensitive and the round's final distinct restores
      // set semantics; an intermediate distinct was a whole extra shuffle
      // per round on the round-dominated cost profile.
      // per-vertex min maps are the SAME magnitude as the pair set they
      // join (≤ 2× current pairs) — un-hinted plain joins at the scoped
      // width (r11-opt): a broadcast of a same-sized side bought no
      // scan-in-place and cost two build jobs per star round; both joins
      // now ride the materialize job.
      val adj = pairs.select(SRC, DST)
        .union(pairs.select(col(DST).as(SRC), col(SRC).as(DST)))
      val mMap = adj.groupBy(SRC).agg(min(DST).as("mn"))
        .select(col(SRC), least(col("mn"), col(SRC)).as("m"))
      val ls = adj.filter(col(DST) > col(SRC)).join(mMap, SRC)
        .filter(col(DST) =!= col("m"))
        .select(least(col(DST), col("m")).as(SRC), greatest(col(DST), col("m")).as(DST))
      // small-star: per vertex hi over its smaller neighbors, everything
      // (including hi) folds onto the minimum
      val hiAdj = ls.select(col(DST).as("hi"), col(SRC).as("lo"))
      val sMin = hiAdj.groupBy("hi").agg(min("lo").as("m"))
      hiAdj.join(sMin, "hi")
        .select(col("lo").as(SRC), col("m").as(DST))
        .filter(col(SRC) =!= col(DST))
        .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
        .union(sMin.select(col("m").as(SRC), col("hi").as(DST)))
        .distinct()
    }, Some(count(lit(1))), { (prev, next, nNew) =>
      // fixpoint: the pair set reproduces itself (star forest); the
      // exceptAll job only runs once counts stop changing
      val same = nNew == nPairs && next.exceptAll(prev).isEmpty
      nPairs = nNew
      same
    })
    // star forest: each edge is (root, v) with root = component minimum
    val comp = pairs.select(col(DST).as(ID), col(SRC).as("component"))
      .union(pairs.select(col(SRC).as(ID), col(SRC).as("component")))
      .groupBy(ID).agg(min("component").as("component"))
    val labels = g.vertices.select(ID).join(comp, Seq(ID), "left")
      .select(col(ID), coalesce(col("component"), col(ID)).as("component"))
    (labels, it)
  }

  /** Core number per vertex (reference `cores/core_number.py:10`, impl
    * `core_number_impl.cuh`): the h-index fixpoint [[coreNumberHIndex]]
    * with `core_number` as `int`.
    *
    * `degreeType` follows the reference: "bidirectional" uses the
    * symmetrized simple graph by undirected degree; "incoming"/"outgoing"
    * use the DIRECTED simple graph by in-/out-degree (a peeled vertex takes
    * all its incident edges with it, both directions).
    * @return DataFrame(id, core_number: int). */
  def coreNumber(g: PropertyGraph, degreeType: String = "bidirectional"): DataFrame =
    coreNumberHIndex(g, degreeType)._1
      .select(col(ID), col("core_number").cast("int").as("core_number"))

  /** Core number via the iterated H-operator fixpoint (Lü, Zhou, Zhang,
    * Stanley, "The H-index of a network node and its relation to degree and
    * coreness", Nature Communications 2016): start from h(v) = degree and
    * repeatedly set h(v) to the H-index of its neighbors' h values (the
    * largest k such that ≥ k neighbors have h ≥ k). The sequence is
    * pointwise non-increasing and converges exactly to the core number;
    * the same proof carries to the directed in-/out-degree variants with
    * in-/out-neighbor message sets (reference semantics
    * `cores/core_number.py:10`, `degree_type`).
    *
    * Cost shape: one aggregate-messages shuffle per sweep and typically
    * O(10) sweeps, where a peel pays one Spark job cascade PER peel round —
    * on graphs with deep cores the peel's job count is O(Σ cascade rounds)
    * while this is O(sweeps). The per-vertex `collect_list` is bounded by
    * degree — the same O(d_max) row bound a CSR adjacency row has; hub rows
    * are handled by Spark's spillable aggregation buffers.
    *
    * One [[Iterate.fixpoint]] round is a LAZY batch of [[SweepsPerRound]]
    * sweeps: within a batch no job is submitted, so Catalyst chains the
    * aggregate-messages shuffles into the round's one materialize job. The
    * round's metric is Σh, read off that job. h is pointwise non-increasing,
    * so Σh unchanged across a batch ⟺ the batch's first sweep was already a
    * fixpoint — no old-vs-new join. Throws if `maxIter` sweeps end before
    * the fixpoint.
    * @return (DataFrame(id, core_number: long), sweeps incl. ≤
    *         SweepsPerRound−1 post-convergence no-ops). */
  def coreNumberHIndex(g: PropertyGraph, degreeType: String = "bidirectional",
                       maxIter: Int = 200): (DataFrame, Int) = {
    // adjacency rows (id, nbr): nbr's h value is counted in id's H-set.
    // Simple graph per the reference: self-loops and multi-edges dropped.
    val adj = (degreeType match {
      case "bidirectional" =>
        val c = Structure.canonicalize(Structure.symmetrize(g.edges.select(SRC, DST)))
        c.select(col(SRC).as(ID), col(DST).as("nbr"))
          .union(c.select(col(DST).as(ID), col(SRC).as("nbr")))
      case "incoming" =>
        g.edges.select(SRC, DST).filter(col(SRC) =!= col(DST)).distinct()
          .select(col(DST).as(ID), col(SRC).as("nbr"))
      case "outgoing" =>
        g.edges.select(SRC, DST).filter(col(SRC) =!= col(DST)).distinct()
          .select(col(SRC).as(ID), col(DST).as("nbr"))
      case other => throw new IllegalArgumentException(s"unknown degree_type $other")
    }).mat
    // Loop state covers exactly the vertices with ≥ 1 adjacency row (the
    // groupBy(ID) key set of adj), so each sweep is a closed map over it —
    // no old-vs-new left join. Isolated vertices are h = 0 from the first
    // H-operator application onward and are appended once at the end.
    val h0 = adj.groupBy(ID).agg(count(lit(1)).as("h")).mat
    val hSum = coalesce(sum("h"), lit(0L))
    val sum0 = h0.agg(hSum).first().getLong(0)
    var prevSum = sum0
    // H-index of the multiset: sort descending, count positions i (0-based)
    // with value ≥ i+1. Evaluates inside the aggregation projection — no
    // second shuffle per sweep.
    val hIdx = size(filter(sort_array(col("hs"), asc = false),
      (x, i) => x >= (i + lit(1)).cast("long"))).cast("long")
    // an empty adjacency is already the fixpoint: no batch runs
    val batches = if (sum0 == 0L || maxIter <= 0) 0 else (maxIter - 1) / SweepsPerRound + 1
    val (h, rounds, converged) = Iterate.fixpoint(h0, batches, -1L)({ (st, r) =>
      var next = st
      for (_ <- 0 until math.min(SweepsPerRound, maxIter - r * SweepsPerRound)) {
        // plain shuffle join (not a forced broadcast): a broadcast would
        // collect `next` to the driver NOW, serializing the batch into
        // per-sweep jobs; AQE still picks broadcast at runtime when small
        next = adj.join(next.select(col(ID).as("nbr"), col("h").as("nh")), "nbr")
          .groupBy(ID).agg(collect_list(col("nh")).as("hs"))
          .select(col(ID), hIdx.as("h"))
      }
      next
    }, Some(hSum), { (_, _, s) =>
      val same = s == prevSum
      prevSum = s
      same
    })
    Release.free(adj)
    require(converged || sum0 == 0L,
      s"coreNumberHIndex: h still falling after $maxIter sweeps (raise maxIter)")
    val isolated = g.vertices.select(ID)
      .join(h, Seq(ID), "left_anti").select(col(ID), lit(0L).as("h"))
    (h.union(isolated).select(col(ID), col("h").as("core_number")),
      math.min(rounds * SweepsPerRound, maxIter))
  }

  /** H-operator sweeps per [[coreNumberHIndex]] round: one driver sync per
    * batch, at the price of ≤ SweepsPerRound−1 wasted sweeps at the end. */
  private val SweepsPerRound = 4

  /** Strongly connected components — trim + forward/backward min-label
    * coloring (reference legacy SCC `algorithms.hpp:1767`,
    * `components/strongly_connected_components_impl.cuh`, which likewise
    * interleaves trim with FW-BW rounds).
    *
    * The extraction runs on [[Iterate.fixpoint]] over the state (id,
    * component) of every vertex, component null while the vertex is still
    * in play; the metric counts the nulls and the loop stops at 0. Each
    * round over the remaining subgraph:
    *  1. TRIM — iteratively extract vertices with zero remaining in- or
    *     out-degree as singleton SCCs (nothing with no inbound/outbound
    *     edge can sit on a cycle; removing whole SCCs preserves the SCCs
    *     of the remainder). This peels the DAG-like tail that would
    *     otherwise cost one label-prop ROUND each.
    *  2. Propagate min vertex id along edge direction (fwd) and against it
    *     (bwd), both CAPPED at a sweep budget. Extraction of
    *     fwd(v) == bwd(v) = c vertices is only sound on CONVERGED labels
    *     (a hop-bounded run can agree on part of a long cycle and rip a
    *     partial SCC out), so if either direction hits the cap without
    *     converging, nothing is extracted and the budget doubles for the
    *     next round — total sweeps stay O(diameter) without any unbounded
    *     inner fixpoint. On converged labels the smallest remaining vertex
    *     is always extracted, so every converged round makes progress.
    * The edge set is a side frame, shrunk to the trimmed remainder once
    * per round. Label = min vertex id of the SCC. Throws if `maxRounds`
    * rounds end with vertices unextracted.
    * @return DataFrame(id, component). */
  def scc(g: PropertyGraph, maxRounds: Int = 50, propCap: Int = 20,
          trimCap: Int = 20): DataFrame = {
    var edges = g.edges.select(SRC, DST).distinct().mat
    val open = col("component").isNull
    val init = g.vertices.select(col(ID), lit(null).cast("long").as("component")).mat
    var n = init.count() // vertices still in play
    var cap = propCap
    var labelled = true // whether the round's fwd/bwd labels converged
    var side = Seq.empty[DataFrame] // the round's frames behind its result
    val (out, _, _) = Iterate.fixpoint(init, if (n == 0) 0 else maxRounds, -1L)({ (st, _) =>
      // 1. trim: zero-in/out vertices are singleton SCCs (component = own
      // id); a trim round trims every live vertex without a live in- or
      // out-neighbour, and the trim stops when a round trims nothing
      var live = n
      val (trim, _, _) = Iterate.fixpoint(st.filter(open).mat, trimCap, -1L)({ (tr, _) =>
        val alive = tr.filter(open).select(ID)
        val e = edges.join(alive.withColumnRenamed(ID, SRC), SRC)
          .join(alive.withColumnRenamed(ID, DST), DST)
        val hasOut = e.select(col(SRC).as(ID), lit(true).as("o")).distinct()
        val hasIn = e.select(col(DST).as(ID), lit(true).as("i")).distinct()
        tr.join(hasOut, Seq(ID), "left").join(hasIn, Seq(ID), "left")
          .select(col(ID), when(open && (col("o").isNull || col("i").isNull),
            col(ID)).otherwise(col("component")).as("component"))
      }, Some(sum(when(open, 1L).otherwise(0L))), { (_, _, m) =>
        val done = m == live || m == 0
        live = m
        done
      })
      side = Seq(trim)
      labelled = true
      val round =
        if (live == 0) trim
        else {
          // 2. capped fwd/bwd coloring over the trimmed remainder
          val rem = trim.filter(open).select(ID)
          val prevEdges = edges
          edges = edges.join(rem.withColumnRenamed(ID, SRC), Seq(SRC), "left_semi")
            .join(rem.withColumnRenamed(ID, DST), Seq(DST), "left_semi").mat
          Release.free(prevEdges)
          val (fwd, fConv) = minLabelProp(rem, edges, forward = true, cap, live)
          val (bwd, bConv) = minLabelProp(rem, edges, forward = false, cap, live)
          side = Seq(trim, fwd, bwd)
          // unconverged labels are unsafe to extract from
          labelled = fConv && bConv
          if (!labelled) trim
          else {
            val agree = fwd.join(bwd.withColumnRenamed("ml", "ml_b"), ID)
              .filter(col("ml") === col("ml_b"))
              .select(col(ID), col("ml").as("c"))
            trim.join(agree, Seq(ID), "left")
              .select(col(ID), coalesce(col("component"), col("c")).as("component"))
          }
        }
      st.filter(!open).union(round)
    }, Some(sum(when(open, 1L).otherwise(0L))), { (_, _, m) =>
      Release.free(side: _*)
      if (!labelled) cap *= 2 // retry the coloring with a bigger budget
      n = m
      m == 0
    })
    Release.free(edges)
    require(n == 0, s"scc: $n vertices unextracted after $maxRounds rounds (raise maxRounds)")
    out
  }

  /** Min-label propagation along (or against) edge direction, capped at
    * `maxSweeps` sweeps; returns (labels, converged). One cached frame per
    * sweep carries old + new labels, so convergence detection is a scan,
    * not a second join. */
  /** `stateRows`: tracked label-table size — engages the size-gated
    * broadcast of the labels into the edge join and the scoped AQE-off for
    * the sweeps (r11-opt: the unhinted sweeps paid AQE query-stage jobs
    * per exchange on a loop whose joins are all state-sized or hinted). */
  private def minLabelProp(verts: DataFrame, edges: DataFrame, forward: Boolean,
                           maxSweeps: Int, stateRows: Long = -1L): (DataFrame, Boolean) = {
    val e = if (forward) edges else edges.select(col(DST).as(SRC), col(SRC).as(DST))
    val (labels, _, converged) = Iterate.fixpoint(
        verts.select(col(ID), col(ID).as("ml")).mat, maxSweeps, stateRows)({ (st, _) =>
      val labels = st.select(col(ID), col("ml"))
      val nbrMin = e.join(Hint.state(labels.withColumnRenamed(ID, SRC), stateRows), SRC)
        .groupBy(col(DST).as(ID)).agg(min("ml").as("nm"))
      labels.join(nbrMin, Seq(ID), "left")
        .select(col(ID), col("ml").as("old"),
          least(col("ml"), coalesce(col("nm"), col("ml"))).as("ml"))
    }, Some(sum(when(col("ml") < col("old"), 1L).otherwise(0L))), (_, _, changed) => changed == 0)
    (labels.select(col(ID), col("ml")), converged)
  }

  /** Degrees over a canonical (src<dst, deduped) undirected edge list. */
  private def undirDegrees(canonEdges: DataFrame): DataFrame =
    canonEdges.select(col(SRC).as(ID)).union(canonEdges.select(col(DST).as(ID)))
      .groupBy(ID).agg(count(lit(1)).as("degree"))

  /** k-core subgraph (reference `cores/k_core.py:28`). Without precomputed
    * core numbers, peel DIRECTLY at level k — repeatedly delete vertices of
    * degree < k until stable (a handful of cascade rounds) instead of
    * computing every core value first. */
  def kCore(g: PropertyGraph, k: Int, coreNumbers: Option[DataFrame] = None): DataFrame =
    kCoreWithRounds(g, k, coreNumbers)._1

  /** k-core also returning the cascade round count (for oracle budgets).
    * The peel runs on [[Iterate.fixpoint]] with the remaining canonical
    * edge set as its state: a round drops every edge incident to a vertex
    * of degree < k, and the loop stops on a round whose edge count is
    * unchanged — the confirming round, which the count includes. */
  def kCoreWithRounds(g: PropertyGraph, k: Int,
                      coreNumbers: Option[DataFrame] = None): (DataFrame, Int) = {
    val canon = Structure.canonicalize(Structure.symmetrize(g.edges.select(SRC, DST)))
    coreNumbers match {
      case Some(cores) =>
        val keep = cores.filter(col("core_number") >= k).select(ID)
        (Structure.inducedSubgraph(canon, keep), 0)
      case None =>
        val e0 = canon.mat
        var nEdges = e0.count()
        // every join of a round is sized by the edge count: under the gate
        // the round is one job, not one per AQE query stage
        val (e, rounds, _) = Iterate.fixpoint(e0, Int.MaxValue, nEdges)({ (e, _) =>
          val weak = undirDegrees(e).filter(col("degree") < k).select(ID)
          e.join(weak.withColumnRenamed(ID, SRC), Seq(SRC), "left_anti")
            .join(weak.withColumnRenamed(ID, DST), Seq(DST), "left_anti")
        }, Some(count(lit(1))), { (_, _, m) =>
          // a weak vertex has ≥ 1 edge, so an unchanged count means none
          val same = m == nEdges
          nEdges = m
          same
        })
        (e, rounds)
    }
  }
}
