package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.core.Gr._
import graft.algos._

/** Algorithm correctness on small known graphs — the ScalaTest tier of the
  * SURVEY §5 test plan (golden values computed by hand / reference
  * semantics). */
class AlgoSpec extends SparkSpec {

  // two triangles (1,2,3) and (4,5,6) bridged by 3—4
  private val bridged = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))

  test("BFS distances and reachability on the bridged triangles") {
    val und = Structure.symmetrize(edgeDF(bridged))
    val g = PropertyGraph(Structure.extractVertexList(und), und,
      GraphProperties(directed = false))
    val d = Traversal.bfs(g, 1L).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 6L -> 3))
  }

  test("SSSP picks the lighter two-hop path over the heavy direct edge") {
    val g = wGraphOf(Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 2.0)))
    val d = Traversal.sssp(g, 1L).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(2L) == 3.0 && d(3L) == 1.0)
  }

  test("PageRank sums to 1 and ranks the bridge vertices highest") {
    val und = Structure.symmetrize(edgeDF(bridged))
    val g = PropertyGraph(Structure.extractVertexList(und), und,
      GraphProperties(directed = false))
    val pr = PageRank.runFixed(g, iters = 30).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    // 3 and 4 have degree 3, everything else degree 2
    val top2 = pr.toSeq.sortBy(-_._2).take(2).map(_._1).toSet
    assert(top2 == Set(3L, 4L))
  }

  test("fail_on_nonconvergence: tol-starved PageRank/Katz throw; WithStatus returns the flag") {
    val und = Structure.symmetrize(edgeDF(bridged))
    val g = PropertyGraph(Structure.extractVertexList(und), und,
      GraphProperties(directed = false))
    // 2 rounds at tol 1e-12 cannot converge (delta ~ alpha^2)
    intercept[core.FailedToConvergeException] {
      PageRank.run(g, tol = 1e-12, maxIter = 2)
    }
    val (prDf, prConv) = PageRank.runWithStatus(g, tol = 1e-12, maxIter = 2)
    assert(!prConv && prDf.count() > 0)
    intercept[core.FailedToConvergeException] {
      Centrality.katz(g, alpha = 0.1, tol = 1e-12, maxIter = 2)
    }
    val (kzDf, kzConv) = Centrality.katzWithStatus(g, alpha = 0.1, tol = 1e-12, maxIter = 2)
    assert(!kzConv && kzDf.count() > 0)
    // a realistic tolerance converges well inside the budget and returns
    val (_, okConv) = PageRank.runWithStatus(g, tol = 1e-4, maxIter = 100)
    assert(okConv)
    // fixed-iteration mode (tol<=0) has no tolerance contract — never throws
    assert(PageRank.runFixed(g, iters = 2).count() > 0)
  }

  test("WCC finds the two components of a disconnected graph") {
    val und = Structure.symmetrize(edgeDF(Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    val g = PropertyGraph(Structure.extractVertexList(und), und,
      GraphProperties(directed = false))
    val comp = Components.wcc(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == comp(3L) && comp(10L) == comp(11L) && comp(1L) != comp(10L))
  }

  test("WCC on a builder graph: the symmetric flag skips the symmetrize, labels unchanged") {
    import spark.implicits._
    // one-direction input pairs, two components plus a self-loop
    val raw = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (12L, 11L), (20L, 20L))
      .toDF("a", "b")
    val built = GraphBuilder.fromEdges(raw, "a", "b", directed = false)
    assert(built.props.symmetric)
    assert(!GraphBuilder.fromEdges(raw, "a", "b").props.symmetric)
    val ren = GraphBuilder.fromEdgesRenumbered(raw.select($"a".cast("string"), $"b".cast("string")),
      Seq("a"), Seq("b"), directed = false)
    assert(ren.props.symmetric)
    assert(graphOf(Seq((1L, 2L))).symmetrized.props.symmetric)
    for (g <- Seq(built, ren)) {
      def run(sym: Boolean) = {
        val (l, rounds) = Components.wccWithRounds(g.copy(props = g.props.copy(symmetric = sym)))
        (l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
      }
      val (flagged, r1) = run(sym = true)
      val (plain, r2) = run(sym = false)
      assert(flagged == plain)
      assert(r1 == r2)
      assert(flagged.values.toSet.size == 3)
    }
  }

  test("triangle count per vertex on the bridged triangles") {
    val g = graphOf(bridged)
    val t = Triangles.countPerVertex(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 1))
  }

  test("SCC separates the cycle from the tail") {
    // 1→2→3→1 is an SCC; 4 hangs off it
    val g = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val c = Components.scc(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == c(2L) && c(2L) == c(3L) && c(4L) != c(1L))
  }

  test("SCC throws when maxRounds ends before every vertex is extracted") {
    // cycle 1→2→3→1 feeds cycle 4→5→6→4: round 1 extracts {1, 2, 3} (its
    // fwd and bwd labels agree on 1), while {4, 5, 6} is reached forward
    // from 1 and so waits for round 2
    val g = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L)))
    val c = Components.scc(g).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    val e = intercept[IllegalArgumentException](Components.scc(g, maxRounds = 1))
    assert(e.getMessage.contains("unextracted"), e.getMessage)
  }

  test("k-truss throws when maxIter ends before the peel settles") {
    // vertex 7 hangs on 1, 2 and 3 (1–3 absent): 1–7 and 3–7 lie in one
    // triangle each and go in peel round 1, which leaves 2–7 in none, so
    // it goes in round 2; the rest is the 4-truss
    val es = Seq((1L, 2L), (1L, 4L), (1L, 5L), (1L, 6L), (1L, 7L), (2L, 3L), (2L, 4L),
      (2L, 5L), (2L, 6L), (2L, 7L), (3L, 4L), (3L, 5L), (3L, 6L), (3L, 7L), (4L, 6L), (5L, 6L))
    val g = graphOf(es, directed = false)
    val (truss, rounds) = Triangles.kTrussWithRounds(g, k = 4)
    val got = truss.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == es.filter(_._2 != 7L).toSet, got)
    assert(rounds == 3, s"2 peel rounds + the confirming round, got $rounds")
    val e = intercept[IllegalArgumentException](Triangles.kTrussWithRounds(g, k = 4, maxIter = 1))
    assert(e.getMessage.contains("peel rounds"), e.getMessage)
  }

  test("complement-path edge support and intersections match brute force on a dense graph") {
    // K7 minus 4 edges: density 17/21 > 1/2 with a NON-empty complement —
    // the regime where the cc terms of the complement identities actually
    // carry weight (the sf0.01 gate fixture is complete, complement empty)
    val removed = Set((0L, 1L), (2L, 3L), (2L, 5L), (4L, 6L))
    val edges = for {
      i <- 0L until 7L; j <- i + 1 until 7L if !removed((i, j))
    } yield (i, j)
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val g = graphOf(edges)
    // brute-force |N(u)∩N(v)|
    def inter(u: Long, v: Long): Long = (adj(u) & adj(v)).size.toLong
    val sup = Triangles.edgeSupport(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((a, b) <- edges)
      assert(sup((a, b)) == inter(a, b), s"support($a,$b)=${sup((a, b))} want ${inter(a, b)}")
    // k-truss over the same graph: reference peel computed in-test
    def peel(k: Int): Set[(Long, Long)] = {
      var es = edges.toSet
      var changed = true
      while (changed) {
        val a2 = es.flatMap { case (x, y) => Seq(x -> y, y -> x) }
          .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
        val keep = es.filter { case (x, y) => (a2(x) & a2(y)).size >= k - 2 }
        changed = keep != es
        es = keep
      }
      es
    }
    val truss = Triangles.kTruss(g, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truss == peel(5), s"truss=$truss want ${peel(5)}")
    val (interDf, _) = Similarity.interAndDeg(g)
    val got = interDf.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (a <- 0L until 7L; b <- a + 1 until 7L) {
      val want = inter(a, b)
      if (want > 0) assert(got((a, b)) == want, s"inter($a,$b)=${got.get((a, b))} want $want")
      else assert(!got.contains((a, b)), s"pair ($a,$b) should be absent")
    }
  }

  test("PageRank and Jaccard are partition-invariant at reported precision") {
    // SURVEY §5c: float sums associate differently across partitionings;
    // the REPORTED values (rounded as the queries round) must not
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L), (6L, 7L), (2L, 7L), (5L, 7L))
    def graph(parts: Int) = {
      val und = Structure.symmetrize(edgeDF(es)).repartition(parts)
      PropertyGraph(Structure.extractVertexList(und), und,
        GraphProperties(directed = false))
    }
    def pr(parts: Int) = PageRank.runFixed(graph(parts), iters = 20).collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    assert(pr(1) == pr(64))
    def jac(parts: Int) = {
      val (i, d) = Similarity.interAndDeg(graph(parts))
      Similarity.scoreFrom(i, d, Similarity.Jaccard).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e6)).toMap
    }
    assert(jac(1) == jac(64))
  }

  test("BFS, WCC and h-index core number are partition-invariant (1 vs 64)") {
    // SURVEY §5c: integral-result algorithms must be bitwise identical
    // under any input partitioning — no float association caveat applies
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L), (6L, 7L), (2L, 7L), (5L, 7L), (8L, 9L))
    def graph(parts: Int) = {
      val und = Structure.symmetrize(edgeDF(es)).repartition(parts)
      PropertyGraph(Structure.extractVertexList(und), und,
        GraphProperties(directed = false))
    }
    def bfs(parts: Int) = Traversal.bfs(graph(parts), 1L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bfs(1) == bfs(64))
    def wcc(parts: Int) = Components.wcc(graph(parts)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcc(1) == wcc(64))
    def core(parts: Int) = Components.coreNumberHIndex(graph(parts))._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core(1) == core(64))
  }

  test("spectral eigen embedding separates two cliques joined by a bridge") {
    val k5a = for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)
    val k5b = for (i <- 10L until 15L; j <- i + 1 until 15L) yield (i, j)
    val g = wGraphOf((k5a ++ k5b :+ ((4L, 10L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    val c = Spectral.balancedCutEigen(g, k = 2, numEigenVects = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ca = (0L until 5L).map(c).toSet
    val cb = (10L until 15L).map(c).toSet
    assert(ca.size == 1 && cb.size == 1 && ca != cb,
      s"cliques not separated: $c")
  }

  test("deterministic PIC balanced cut separates two cliques joined by a bridge") {
    val k5a = for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)
    val k5b = for (i <- 10L until 15L; j <- i + 1 until 15L) yield (i, j)
    val g = wGraphOf((k5a ++ k5b :+ ((4L, 10L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    for (byDegree <- Seq(true, false)) {
      val res = if (byDegree) Spectral.balancedCut(g, k = 2)
                else Spectral.modularityMaximization(g, k = 2)
      val c = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ca = (0L until 5L).map(c).toSet
      val cb = (10L until 15L).map(c).toSet
      assert(ca.size == 1 && cb.size == 1 && ca != cb,
        s"cliques not separated (degreeInit=$byDegree): $c")
    }
  }

  test("hub-capped weighted similarity is exact on candidates and bounds the wedge stream") {
    // two 4-cliques sharing a degree-10 hub (vertex 100): capped scores for
    // pairs with a rare common neighbor must equal the uncapped kernel's;
    // pairs whose ONLY common neighbor is the hub are the documented misses
    val clqA = for (i <- 0L until 4L; j <- i + 1 until 4L) yield (i, j, 1.0 + i)
    val clqB = for (i <- 10L until 14L; j <- i + 1 until 14L) yield (i, j, 2.0)
    val spokes = (0L until 4L).map(i => (i, 100L, 3.0)) ++
      (10L until 14L).map(i => (i, 100L, 1.0)) ++ Seq((20L, 100L, 5.0), (21L, 100L, 5.0))
    val g = wGraphOf(clqA ++ clqB ++ spokes, directed = false)
    val cap = 5
    val (full, _) = Similarity.interAndDegWeighted(g)
    val (capped, wdeg) = Similarity.interAndDegWeightedCapped(g, maxDegree = cap)
    val fullM = full.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capM = capped.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every returned candidate score is EXACT (includes hub contributions)
    capM.foreach { case (p, i) => assert(fullM(p) == i, s"pair $p capped=$i full=${fullM(p)}") }
    // clique pairs (rare common neighbors exist) are all retained
    for (i <- 0L until 4L; j <- i + 1 until 4L) assert(capM.contains((i, j)))
    // (20, 21) share ONLY the hub — the documented miss
    assert(fullM.contains((20L, 21L)) && !capM.contains((20L, 21L)))
    assert(wdeg.count() == 11)
    // pure star: every wedge center is the hub, so the capped kernel's
    // candidate stream must be EMPTY — proof the Σ deg² join never touches
    // a center above the cap (the uncapped kernel sees all 45 leaf pairs)
    val star = wGraphOf((0L until 10L).map(i => (i, 99L, 1.0)), directed = false)
    assert(Similarity.interAndDegWeighted(star)._1.count() == 45)
    assert(Similarity.interAndDegWeightedCapped(star, maxDegree = 5)._1.count() == 0)
  }

  test("WCC star-contraction converges in O(log V) rounds on a path graph") {
    // a 300-vertex path has diameter 299: label propagation would need 300
    // sweeps; the star algorithm must finish in a handful of rounds
    val path = (0L until 299L).map(i => (i, i + 1))
    val g = graphOf(path)
    val (labels, rounds) = Components.wccStar(g)
    assert(rounds <= 12, s"star WCC took $rounds rounds")
    val c = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.values.forall(_ == 0L), "path graph must be one component rooted at 0")
    // and the auto-switch kicks in from plain wcc too, far below diameter
    val (_, total) = Components.wccWithRounds(g)
    assert(total <= 30, s"auto-switched WCC took $total rounds")
  }

  test("SCC cap escalation keeps a long cycle whole") {
    // 30-cycle with a DAG tail; propCap=4 < cycle length forces the
    // unconverged-retry path — extraction must still assign every cycle
    // vertex the single min label, and the tail must trim to singletons
    val cyc = (0L until 30L).map(i => (i, (i + 1) % 30))
    val tail = Seq((5L, 100L), (100L, 101L))
    val g = graphOf(cyc ++ tail)
    val c = Components.scc(g, propCap = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 30L).forall(c(_) == 0L), s"cycle split: $c")
    assert(c(100L) == 100L && c(101L) == 101L)
  }

  test("Louvain labels are invariant under input partitioning (1 vs 64)") {
    // SURVEY §5c: hash-race determinism — the result must not depend on how
    // the edge list happens to be partitioned
    val es = Seq((1L, 2L, 3.0), (1L, 3L, 3.0), (2L, 3L, 3.0), (3L, 4L, 1.0),
      (4L, 5L, 3.0), (4L, 6L, 3.0), (5L, 6L, 3.0), (6L, 7L, 1.0), (7L, 8L, 2.0))
    def run(parts: Int) = {
      val e = wGraphOf(es, directed = false)
      val g = graft.core.PropertyGraph(e.vertices,
        e.edges.repartition(parts), e.props)
      Community.louvain(g, maxLevel = 2)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(run(1) == run(64))
  }

  test("Leiden and ECG labels are invariant under input partitioning (1 vs 64)") {
    // same §5c contract for the derived community algorithms: the WCC
    // refinement (Leiden) and the batched keyed ensemble + vote reweight
    // (ECG) must inherit the hash-race determinism of the Louvain core
    val es = Seq((1L, 2L, 3.0), (1L, 3L, 3.0), (2L, 3L, 3.0), (3L, 4L, 1.0),
      (4L, 5L, 3.0), (4L, 6L, 3.0), (5L, 6L, 3.0), (6L, 7L, 1.0), (7L, 8L, 2.0))
    def graph(parts: Int) = {
      val e = wGraphOf(es, directed = false)
      graft.core.PropertyGraph(e.vertices, e.edges.repartition(parts), e.props)
    }
    def leiden(parts: Int) = Community.leiden(graph(parts), maxLevel = 2)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leiden(1) == leiden(64))
    def ecg(parts: Int) = Community.ecg(graph(parts), ensembleSize = 3)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ecg(1) == ecg(64))
  }

  test("Leiden refinement splits a disconnected community into its pieces") {
    // force a label table that merges two components into one community:
    // the refinement (WCC over intra-community edges) must split them —
    // the Leiden connectivity invariant (detail/refine_impl.cuh)
    val g = wGraphOf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0)),
      directed = false)
    val labels = spark.createDataFrame(
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L))).toDF("id", "c")
    val (refined, rounds) = Community.leidenRefine(g, labels, "c")
    assert(rounds <= 4)
    val m = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("Boruvka MST total weight on a known weighted graph") {
    // square 1-2-3-4 with diagonal: MST = {1-2:1, 2-3:1, 3-4:1} weight 3
    val g = wGraphOf(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (4L, 1L, 5.0), (1L, 3L, 4.0)), directed = false)
    val mst = TreeDag.boruvkaMst(g)
    assert(mst.count() == 3)
    assert(mst.agg(sum(WEIGHT)).first().getDouble(0) == 3.0)
  }

  test("core number: the 3-clique core survives the tail") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val core = Components.coreNumber(g).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(core(1L) == 2 && core(2L) == 2 && core(3L) == 2 && core(4L) == 1)
  }

  test("h-index core number equals the peel on the gated RMAT fixture, all degree types") {
    // the exact fixture + degree types behind q_core_number{,_in,_out}: the
    // DuckDB oracle unrolls the peel, the gate runs the h-index fixpoint —
    // this equality with the plain-Scala peel is what licenses the swap
    val g = Fixtures.rmatGraph(spark)
    val vs = g.vertices.select(ID).collect().map(_.getLong(0)).toSeq
    val es = g.edges.select(SRC, DST).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (dt <- Seq("bidirectional", "incoming", "outgoing")) {
      val (hRes, sweeps) = Components.coreNumberHIndex(g, degreeType = dt)
      val h = hRes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(h == CorePeel(vs, es, dt), s"h-index != peel for degree_type=$dt")
      assert(sweeps < 50, s"h-index took $sweeps sweeps on a 192-vertex fixture")
    }
  }

  test("h-index core number throws when maxIter ends before the fixpoint") {
    // path 1-2-3-4-5: the first sweep lowers h(2) and h(4) from 2 to 1
    val g = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), directed = false)
    val err = intercept[IllegalArgumentException](Components.coreNumberHIndex(g, maxIter = 1))
    assert(err.getMessage.contains("raise maxIter"), err.getMessage)
    assert(Components.coreNumberHIndex(g)._1.collect().forall(_.getLong(1) == 1L))
  }

  test("topological levels respect the DAG order") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val lvl = TreeDag.topologicalLevels(g).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lvl == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("topological levels throw on a cycle and when maxRounds ends first") {
    val cyc = intercept[IllegalArgumentException](
      TreeDag.topologicalLevels(graphOf(Seq((1L, 2L), (2L, 3L), (3L, 2L)))))
    assert(cyc.getMessage.contains("graph has a cycle"), cyc.getMessage)
    val chain = graphOf(Seq((1L, 2L), (2L, 3L)))
    val cap = intercept[IllegalArgumentException](TreeDag.topologicalLevels(chain, maxRounds = 2))
    assert(cap.getMessage.contains("unplaced after 2 rounds"), cap.getMessage)
    assert(TreeDag.topologicalLevels(chain, maxRounds = 3).count() == 3)
  }

  test("Jaccard on a known pair") {
    // nbrs(1) = {2,3,4}; nbrs(5) = {3,4,6}; intersection 2, union 4
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 3L), (5L, 4L), (5L, 6L)),
      directed = false)
    val j = Similarity.allPairs(g, Similarity.Jaccard).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(j((1L, 5L)) - 0.5) < 1e-9)
  }

  test("Louvain recovers the two dense blocks") {
    // two 4-cliques joined by one edge
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val g = wGraphOf((k4a ++ k4b :+ ((4L, 11L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    val (labels, q) = Community.louvain(g)
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L) && m(2L) == m(3L) && m(3L) == m(4L))
    assert(m(11L) == m(12L) && m(12L) == m(13L) && m(13L) == m(14L))
    assert(m(1L) != m(11L))
    assert(q > 0.3)
  }

  test("a Louvain level capped before it settles reports converged = false") {
    // the two-block graph above: every vertex moves in the opening round,
    // so a 1-round cap ends the level mid-flight — reported, not thrown
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val g = wGraphOf((k4a ++ k4b :+ ((4L, 11L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    val (capped, rounds, converged) = Community.oneLevelWithRounds(g, maxIter = 1)
    assert((rounds, converged) == ((1, false)))
    assert(capped.count() == 8L)
    val (_, fullRounds, fullConverged) = Community.oneLevelWithRounds(g)
    assert(fullConverged, s"level did not converge in $fullRounds rounds")
    assert(fullRounds > 1)
  }

  test("betweenness endpoints=True matches hand-computed P3 values") {
    // path 0-1-2: paths {0-1},{0-1-2},{1-2}; endpoint counting gives
    // bc = (2, 3, 2), normalized by n(n-1)/2 = 3 → (2/3, 1, 2/3)
    val g = graphOf(Seq((0L, 1L), (1L, 2L)), directed = false)
    val bc = Centrality.betweenness(g, endpoints = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bc(0L) - 2.0 / 3) < 1e-9)
    assert(math.abs(bc(1L) - 1.0) < 1e-9)
    assert(math.abs(bc(2L) - 2.0 / 3) < 1e-9)
  }

  test("PageRank nstart at the fixpoint converges immediately to itself") {
    val und = Structure.symmetrize(edgeDF(bridged))
    val g = PropertyGraph(Structure.extractVertexList(und), und,
      GraphProperties(directed = false))
    val fix = graft.prims.Iterate.materialize(PageRank.run(g, tol = 1e-8, maxIter = 100))
    val warm = PageRank.run(g, tol = 1e-8, maxIter = 100, nstart = Some(fix))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cold = fix.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cold.foreach { case (k, v) => assert(math.abs(warm(k) - v) < 1e-6) }
  }

  test("betweenness: the bridge endpoints dominate") {
    val g = graphOf(bridged)
    val bc = Centrality.betweenness(g).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val top2 = bc.toSeq.sortBy(-_._2).take(2).map(_._1).toSet
    assert(top2 == Set(3L, 4L))
  }
}
