package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.core.Gr._
import graft.algos.Misc
import graft.gen.Generators

/** MIS/coloring/matching validity properties, LAP optimality vs brute
  * force, generator shape checks. */
class MiscSpec extends SparkSpec {

  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
    (1L, 6L), (2L, 7L), (3L, 8L))

  test("MIS is independent and maximal") {
    val g = graphOf(edges)
    val misSet = Misc.mis(g).collect().map(_.getLong(0)).toSet
    val und = Structure.symmetrize(edgeDF(edges)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // independent: no edge inside the set
    assert(!und.exists { case (a, b) => misSet(a) && misSet(b) })
    // maximal: every non-member has a neighbor in the set
    val all = und.flatMap(e => Seq(e._1, e._2)).toSet
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((all -- misSet).forall(v => nbrs.getOrElse(v, Set.empty).exists(misSet)))
  }

  test("vertex coloring is proper") {
    val g = graphOf(edges)
    val colors = Misc.vertexColoring(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = Structure.symmetrize(edgeDF(edges)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(und.forall { case (a, b) => colors(a) != colors(b) })
  }

  test("MIS throws when maxRounds ends before the arena empties") {
    // a 20-vertex path: one Luby round cannot decide every vertex
    val path = graphOf((1L until 20L).map(i => (i, i + 1)), directed = false)
    val err = intercept[IllegalArgumentException](Misc.misWithRounds(path, maxRounds = 1))
    assert(err.getMessage.contains("vertices remain after 1 rounds"), err.getMessage)
    assert(Misc.misWithRounds(path)._2 > 1)
  }

  test("vertex coloring throws when maxColors ends before every vertex is colored") {
    val triangle = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)), directed = false)
    val err = intercept[IllegalArgumentException](
      Misc.vertexColoringWithStats(triangle, maxColors = 2))
    assert(err.getMessage.contains("uncolored after 2 colors"), err.getMessage)
    assert(Misc.vertexColoringWithStats(triangle, maxColors = 3)._2 == 3)
  }

  test("fast coloring is proper, deterministic, and colors every vertex") {
    // random-ish denser graph than the fixture so repair rounds actually run
    val es = (for (i <- 0L until 40L; j <- (i + 1) until 40L
                   if ((i * 37 + j * 11) % 7) == 0) yield (i, j)).toSeq
    val g = graphOf(es)
    val (c1, nColors, rounds) = Misc.fastColoringWithStats(g, seed = 7, initColors = 3)
    val colors = c1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = Structure.symmetrize(edgeDF(es)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(und.forall { case (a, b) => colors(a) != colors(b) }, "proper")
    assert(colors.keySet == es.flatMap(e => Seq(e._1, e._2)).toSet, "total")
    assert(rounds > 0, "the dense fixture must exercise conflict repair")
    assert(nColors == colors.values.max + 1)
    // deterministic given (seed, initColors)
    val c2 = Misc.fastColoringWithStats(g, seed = 7, initColors = 3)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == colors)
  }

  test("Release.free drops a dead frame's blocks and leaves live frames readable") {
    import graft.prims.{Mat, Release}
    import Mat._
    val a = spark.range(100).toDF("id").mat
    val b = a.select((col("id") * 2).as("id")).mat // derived THEN materialized
    Release.free(a)
    assert(b.count() == 100) // b's blocks are its own — unaffected
    // the freed frame can no longer be computed (localCheckpoint truncation)
    intercept[Exception] { a.count() }
    // frames derived from materialized ones, as WCC and Louvain free them:
    // a projection, a union and a Hint.state broadcast each drop the chunks
    // of every materialized frame they read
    def ids(n: Int) = spark.range(n).toDF("id").mat
    val live = ids(50)
    val (p, u1, u2, h) = (ids(10), ids(20), ids(30), ids(40))
    val derived = Seq(p.select((col("id") + 1).as("x")), u1.union(u2),
      graft.prims.Hint.state(h, 40L))
    Release.free(derived: _*)
    Seq(p, u1, u2, h).foreach(f => intercept[Exception] { f.count() })
    assert(live.count() == 50)
    // freeing neither plans nor runs the frame: a broadcast join's build
    // side is not executed
    val (k, j) = (ids(30), ids(60))
    val joined = k.join(graft.prims.Hint.state(j, 60L), "id")
    assert(jobsIn(Release.free(joined)) == 0)
    Seq(k, j).foreach(f => intercept[Exception] { f.count() })
  }

  test("Fixtures.evictSession frees an evicted fixture's blocks; a re-fetch rebuilds it") {
    // a session of its own, so the shared test session's fixtures stay cached
    val s2 = spark.newSession()
    val e1 = Fixtures.rmatGraph(s2).edges
    val n = e1.count()
    // the shared Brandes states, edge table included
    val b = Fixtures.supplierBrandes(s2, "/root/testdata/sf0.001")
    val bFrames = Seq(b.delta, b.settled, b.verts, b.edges)
    bFrames.foreach(_.count())
    Fixtures.evictSession(s2)
    intercept[Exception] { e1.count() }
    bFrames.foreach(f => intercept[Exception] { f.count() })
    val e2 = Fixtures.rmatGraph(s2).edges
    assert(!(e2 eq e1) && e2.count() == n)
    Fixtures.evictSession(s2)
  }

  test("iterative kernels free every frame they materialize beyond their result") {
    import graft.algos._
    import graft.prims.Release
    // two triangles joined by a path, plus a directed 3-cycle for SCC
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (7L, 5L))
    val g = graphOf(es).symmetrized
    val wg = wGraphOf(es.map { case (a, b) => (a, b, 1.0 + (a * b) % 5) }).symmetrized
    val dg = graphOf(es)
    val dag = graphOf(es.filter { case (a, b) => a < b })
    // a pendant vertex 8 for the 2-core to peel
    val pendant = graphOf(es :+ ((7L, 8L))).symmetrized
    import spark.implicits._
    val values = Seq((1L, 1L, 4L), (1L, 2L, 8L), (2L, 1L, 8L), (2L, 2L, 4L))
      .toDF("i", "j", "v")
    Seq(g, wg, dg, dag, pendant).foreach(_.numVertices)
    val ids = (vs: Seq[Long]) => edgeDF(vs.map(v => (v, v))).select(col(SRC).as(ID))
    val kernels = Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])](
      "bfs" -> (() => Seq(Traversal.bfs(g, 1L))),
      "sssp" -> (() => Seq(Traversal.sssp(wg, 1L))),
      "shortestPath" -> (() => Seq(Traversal.shortestPath(wg, 1L, 7L))),
      "msBfs" -> (() => Seq(MultiTraversal.msBfs(g, ids(Seq(1L, 6L)).select(col(ID).as("source"))))),
      "odShortestDistances" -> (() => Seq(MultiTraversal.odShortestDistances(g,
        ids(Seq(1L, 6L)), ids(Seq(4L, 7L))))),
      "odShortestDistancesWeighted" -> (() => Seq(MultiTraversal.odShortestDistancesWeighted(wg,
        ids(Seq(1L, 6L)), ids(Seq(4L, 7L)))._1)),
      "batchedEgo" -> (() => Seq(MultiTraversal.batchedEgo(g, ids(Seq(1L, 6L)), radius = 2))),
      "extractBfsPaths" -> { () =>
        val b = Traversal.bfs(g, 1L)
        Seq(b, MultiTraversal.extractBfsPaths(b, ids(Seq(7L, 2L)), maxDepth = 12))
      },
      "brandesStates" -> { () =>
        val s = Centrality.brandesStates(g)
        Seq(s.delta, s.settled, s.verts, s.edges)
      },
      "betweenness" -> (() => Seq(Centrality.betweenness(g))),
      "edgeBetweenness" -> (() => Seq(Centrality.edgeBetweennessWithLevels(g)._1)),
      "pagerank" -> (() => Seq(PageRank.run(g))),
      "katz" -> (() => Seq(Centrality.katz(g, alpha = 0.1))),
      "eigenvector" -> (() => Seq(Centrality.eigenvector(wg))),
      "hits" -> (() => Seq(Centrality.hits(dg, normalized = false))),
      "boruvka" -> (() => Seq(TreeDag.boruvkaMst(wg))),
      "scc" -> (() => Seq(Components.scc(dg))),
      "topologicalLevels" -> (() => Seq(TreeDag.topologicalLevels(dag))),
      "coreNumber" -> (() => Seq(Components.coreNumber(g))),
      "kCore" -> (() => Seq(Components.kCore(pendant, 2))),
      "mis" -> (() => Seq(Misc.mis(g))),
      "vertexColoring" -> (() => Seq(Misc.vertexColoring(g))),
      "fastColoringWithStats" -> (() => Seq(Misc.fastColoringWithStats(g, initColors = 2)._1)),
      "auctionAssignment" -> (() => Seq(Misc.auctionAssignment(values)._1)),
      "traversedCost" -> { () =>
        val b = Traversal.bfs(g, 1L)
        Seq(b, Traversal.traversedCost(b, wg.weightedEdges))
      },
      "kTruss" -> (() => Seq(Triangles.kTruss(g, 3))),
      "kTruss incremental" -> (() => Seq(Triangles.kTrussWithRounds(g, 3,
        bulkRecomputeFrac = Double.MaxValue)._1)),
      "louvain" -> (() => Seq(Community.louvain(wg)._1)),
      "leiden" -> (() => Seq(Community.leiden(wg)._1)),
      "ecgVotes" -> (() => Seq(Community.ecgVotes(wg, ensembleSize = 2))),
      "ecg" -> (() => Seq(Community.ecg(wg, ensembleSize = 2)._1)),
      "weightedMatching" -> (() => Seq(Misc.weightedMatching(wg))),
      "forceAtlas2" -> (() => Seq(Misc.forceAtlas2(g))),
      "balancedCutEigen" -> (() => Seq(Spectral.balancedCutEigen(wg, k = 2, numEigenVects = 2))),
      "balancedCut" -> (() => Seq(Spectral.balancedCut(wg, k = 2))))
    // compared by id: the ContextCleaner may drop an earlier test's
    // unreachable RDDs while a kernel runs
    val sc = spark.sparkContext
    def held = sc.getPersistentRDDs.keySet
    val leaks = kernels.flatMap { case (name, run) =>
      val before = held
      // Spark tracks persisted RDDs weakly, so after a GC the ContextCleaner
      // may unpersist a dropped frame and hide its leak: a poller holds
      // every persisted RDD seen during the run (each stays reachable for
      // at least its own materialize job) until the check is done
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val poller = new Thread(() => while (running.get) {
        sc.getPersistentRDDs.values.foreach(seen.add)
        Thread.sleep(1)
      })
      poller.setDaemon(true)
      poller.start()
      val out = try run() finally { running.set(false); poller.join() }
      out.foreach(df => assert(df.collect().nonEmpty, name))
      Release.free(out: _*)
      val left = held -- before
      java.lang.ref.Reference.reachabilityFence(seen)
      if (left.isEmpty) None else Some(s"$name left ${left.size} persisted RDDs behind")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("weighted matching is a valid matching over existing edges") {
    val g = wGraphOf(Seq((1L, 2L, 3.0), (2L, 3L, 1.0), (3L, 4L, 5.0), (4L, 1L, 2.0)),
      directed = false)
    val m = Misc.weightedMatching(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    val touched = m.flatMap(p => Seq(p._1, p._2))
    assert(touched.distinct.length == touched.length) // vertex-disjoint
    val es = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(m.forall(p => es(p) || es(p.swap)))
    // greedy handshake takes the heaviest edge 3-4 first
    assert(m.contains((3L, 4L)))
  }

  test("assignment DP matches brute force on a 5x5 instance") {
    val rnd = new scala.util.Random(7)
    val cost = Array.fill(5, 5)(rnd.nextInt(100).toDouble)
    val got = Misc.assignment(cost)
    val best = (0 until 5).permutations
      .map(p => p.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum).min
    assert(got.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum == best)
    assert(got.distinct.length == 5)
  }

  test("JV Hungarian matches the DP optimum on random 12x12 instances") {
    val rnd = new scala.util.Random(23)
    def tot(cost: Array[Array[Double]], a: Array[Int]) =
      a.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum
    for (_ <- 1 to 10) {
      val cost = Array.fill(12, 12)(rnd.nextInt(1000).toDouble)
      val jv = Misc.assignmentJV(cost)
      assert(jv.distinct.length == 12)
      assert(tot(cost, jv) == tot(cost, Misc.assignmentDp(cost)))
    }
    // non-integral costs: JV is exact where the auction is only ε-optimal
    val fcost = Array.fill(12, 12)(rnd.nextDouble())
    assert(tot(fcost, Misc.assignmentJV(fcost)) == tot(fcost, Misc.assignmentDp(fcost)))
  }

  test("assignment dispatches to JV above n=20 and matches the auction optimum") {
    val rnd = new scala.util.Random(31)
    val n = 16
    val v = Array.fill(n, n)(rnd.nextInt(1000).toLong)
    // JV minimizes; the auction maximizes — negate for the JV side
    val cost = v.map(_.map(x => -x.toDouble))
    val jvTotal = -Misc.assignmentJV(cost).zipWithIndex
      .map { case (j, i) => cost(i)(j) }.sum.toLong
    import spark.implicits._
    val values = (for (i <- 0 until n; j <- 0 until n)
      yield (i.toLong, j.toLong, v(i)(j) * (n + 1))).toDF("i", "j", "v")
    val (asg, rounds) = Misc.auctionAssignment(values, maxRounds = 2000)
    val got = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aucTotal = got.map { case (i, j) => v(i.toInt)(j.toInt) }.sum
    assert(jvTotal == aucTotal, s"JV $jvTotal != auction $aucTotal (rounds=$rounds)")
    // dispatch: n=21 goes through assignmentJV (would throw in the DP)
    val c21 = Array.fill(21, 21)(rnd.nextInt(100).toDouble)
    assert(Misc.assignment(c21).distinct.length == 21)
  }

  test("auction assignment reaches the brute-force optimum on a 6x6 instance") {
    // maximization form; values pre-scaled x(n+1)=7 so the eps=1 auction
    // is exact — the same contract q_assignment_auction uses
    val rnd = new scala.util.Random(11)
    val v = Array.fill(6, 6)(rnd.nextInt(100).toLong)
    import spark.implicits._
    val values = (for (i <- 0 until 6; j <- 0 until 6)
      yield (i.toLong, j.toLong, v(i)(j) * 7)).toDF("i", "j", "v")
    val (asg, rounds) = Misc.auctionAssignment(values)
    val got = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 6 && got.values.toSeq.distinct.length == 6)
    val total = got.map { case (i, j) => v(i.toInt)(j.toInt) }.sum
    val best = (0 until 6).permutations
      .map(p => p.zipWithIndex.map { case (j, i) => v(i)(j) }.sum).max
    assert(total == best, s"auction total $total != optimum $best (rounds=$rounds)")
  }

  test("auction assignment handles sparse values (missing pairs)") {
    // not every (person, object) pair has a value; the optimum must still
    // be reached through the runner-up fallback (reservation value) path
    import spark.implicits._
    val values = Seq(
      (0L, 0L, 70L), (0L, 1L, 14L),
      (1L, 1L, 21L), (1L, 2L, 28L),
      (2L, 0L, 35L), (2L, 2L, 7L)
    ).toDF("i", "j", "v")
    val (asg, _) = Misc.auctionAssignment(values)
    val got = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // optimum: 0->0 (70), 1->2 (28), 2-> none available except 0 taken...
    // feasible perfect matchings: {0->0,1->1,2->2}=98, {0->0,1->2,2->?}
    // 2 has only 0 and 2; with 0->0 and 1->2 person 2 is left with taken
    // objects, so the only perfect matchings are {0->0,1->1,2->2}=98,
    // {0->1,1->2,2->0}=77, {0->0,1->2,2->?}: infeasible. Optimum = 98.
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L), s"got $got")
  }

  test("FA2 option surface: pos_list warm start respected, gravity pulls to center") {
    import spark.implicits._
    val cl = (for {
      base <- Seq(0L, 10L); a <- 0L until 6L; b <- (a + 1) until 6L
    } yield (base + a, base + b)) :+ ((0L, 10L))
    val g = graphOf(cl)
    // iters=0 returns the initial layout: warm-started ids carry their
    // given positions exactly; unlisted ids fall back to the hash init
    val warm = Seq((0L, 0.25, 0.75), (1L, 0.1, 0.1)).toDF("id", "x", "y")
    val p0 = Misc.forceAtlas2(g, iters = 0, posList = Some(warm)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(p0(0L) == ((0.25, 0.75)) && p0(1L) == ((0.1, 0.1)))
    val hashP = Misc.forceAtlas2(g, iters = 0).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(p0(2L) == hashP(2L)) // unlisted → hash init
    // strong gravity shrinks mean squared distance to the center vs none
    def spread(grav: Double): Double =
      Misc.forceAtlas2(g, iters = 5, gravity = grav).collect()
        .map(r => math.pow(r.getDouble(1) - 0.5, 2) + math.pow(r.getDouble(2) - 0.5, 2))
        .sum
    assert(spread(2.0) < spread(0.0) * 0.5,
      s"gravity should contract the layout: ${spread(2.0)} vs ${spread(0.0)}")
    // default knobs reproduce the gated layout bit-for-bit
    val base = Misc.forceAtlas2(g, iters = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val knobDefaults = Misc.forceAtlas2(g, iters = 3, gravity = 0.0, scalingRatio = 2.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(base == knobDefaults)
  }

  test("FA2 quadtree separation quality >= flat grid on a two-community graph") {
    // two K6 cliques joined by a single bridge — layout quality =
    // mean edge length / mean all-pairs distance (lower = communities
    // tighter relative to global spread)
    val cl = (for {
      base <- Seq(0L, 10L); a <- 0L until 6L; b <- (a + 1) until 6L
    } yield (base + a, base + b)) :+ ((0L, 10L))
    val g = graphOf(cl)
    def quality(quadtree: Boolean): Double = {
      val pos = Misc.forceAtlas2(g, iters = 5, quadtree = quadtree)
      val p = pos.select(col(ID), col("x"), col("y"))
      val und = core.Structure.symmetrize(g.edges.select(SRC, DST))
      val eLen = und
        .join(p.select(col(ID).as(SRC), col("x").as("xa"), col("y").as("ya")), SRC)
        .join(p.select(col(ID).as(DST), col("x").as("xb"), col("y").as("yb")), DST)
        .agg(avg(sqrt(pow(col("xa") - col("xb"), 2) + pow(col("ya") - col("yb"), 2))))
        .first().getDouble(0)
      val aLen = p.as("a").crossJoin(p.as("b"))
        .filter(col(s"a.$ID") < col(s"b.$ID"))
        .agg(avg(sqrt(pow(col("a.x") - col("b.x"), 2) + pow(col("a.y") - col("b.y"), 2))))
        .first().getDouble(0)
      eLen / aLen
    }
    val qQuad = quality(quadtree = true)
    val qGrid = quality(quadtree = false)
    // the refinement must not lose separation quality (small tolerance:
    // both are approximations of the same force field)
    assert(qQuad <= qGrid * 1.05, s"quadtree $qQuad vs grid $qGrid")
    assert(qQuad < 1.0, s"neighbors should sit closer than random pairs: $qQuad")
  }

  test("generators: path/grid/complete shapes") {
    assert(Generators.pathGraph(spark, 10).count() == 9)
    assert(Generators.grid2d(spark, 3, 4).count() == (3 * 3 + 2 * 4))
    assert(Generators.complete(spark, 7).count() == 21)
  }

  test("RMAT ids stay in [0, 2^scale) and scramble is a permutation") {
    val e = Generators.rmat(spark, scale = 6, numEdges = 200)
    assert(e.count() == 200)
    val mx = e.agg(greatest(max(SRC), max(DST))).first().getLong(0)
    assert(mx < 64)
    val ids = spark.range(64).select(col("id").as(SRC), col("id").as(DST))
    val scrambled = Generators.scrambleVertexIds(ids, scale = 6)
    assert(scrambled.select(SRC).distinct().count() == 64)
  }

  test("erdos-renyi density is near p") {
    val e = Generators.erdosRenyi(spark, n = 200, p = 0.1)
    val frac = e.count().toDouble / (200.0 * 199 / 2)
    assert(frac > 0.07 && frac < 0.13)
  }

  test("bicliques: degree-ordered scan, support threshold, skip-same") {
    import spark.implicits._
    // 101:{1,2,3,4} 102:{1,2,3} 103:{4,5,6} 104:{4,5,6} — 104's machine set
    // equals the immediately preceding candidate's (103), so it is skipped
    val edges = Seq(
      (1L, 101L), (2L, 101L), (3L, 101L), (4L, 101L),
      (1L, 102L), (2L, 102L), (3L, 102L),
      (4L, 103L), (5L, 103L), (6L, 103L),
      (4L, 104L), (5L, 104L), (6L, 104L)
    ).toDF("src", "dst").withColumn("flag", (col("src") === 1L).cast("long"))
    val (b, s) = graft.algos.Bicliques.findBicliques(edges, k = -1,
      support = 0.5, minFeatures = 1, minMachines = 2, maxIter = -1)
    val byId = b.collect().groupBy(_.getLong(0))
    assert(byId.keySet == Set(0L, 1L, 2L))
    def verts(id: Long, tp: Long) =
      byId(id).filter(_.getLong(2) == tp).map(_.getLong(1)).toSet
    assert(verts(0L, 0L) == Set(1L, 2L, 3L, 4L) && verts(0L, 1L) == Set(101L, 102L))
    assert(verts(1L, 0L) == Set(1L, 2L, 3L) && verts(1L, 1L) == Set(101L, 102L))
    assert(verts(2L, 0L) == Set(4L, 5L, 6L) && verts(2L, 1L) == Set(101L, 103L, 104L))
    val st = s.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(st(0L) == (6L, 4L, 2L, 0.166667))  // machine 1 is flagged: 1/6
    assert(st(2L) == (6L, 3L, 3L, 0.0))
  }

  test("prewarm's await drains every chain, names a hung one, and keeps the first failure") {
    import scala.concurrent.{Future, Promise}
    import scala.concurrent.duration._
    val boom = new RuntimeException("boom")
    val late = Promise[Unit]()
    val fs = Seq("failed" -> Future.failed[Unit](boom), "hung" -> Promise[Unit]().future,
      "late" -> late.future)
    val t0 = System.nanoTime()
    val thrown = intercept[RuntimeException](Fixtures.awaitChains(fs, 300.millis))
    assert(thrown eq boom)
    assert((System.nanoTime() - t0) >= 300.millis.toNanos, "returned before the deadline")
    val hung = intercept[IllegalStateException](Fixtures.awaitChains(fs.tail, 50.millis))
    assert(hung.getMessage.contains("'hung'"), hung.getMessage)
    late.success(())
    Fixtures.awaitChains(Seq("late" -> late.future), 50.millis)
  }
}
