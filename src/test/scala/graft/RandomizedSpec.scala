package graft

import org.apache.spark.sql.functions._
import graft.algos._
import graft.core._
import graft.core.Gr._

/** Randomized cross-validation: the distributed algorithms vs in-memory
  * brute force on seeded G(n,p) graphs — many topologies per algorithm,
  * exact comparison per seed. Complements the hand-built fixtures (which
  * pin KNOWN answers) by sweeping structures nobody thought to write down:
  * isolated pockets, odd components, degree-1 chains, dense cores. */
class RandomizedSpec extends SparkSpec {

  private def randomEdges(n: Int, p: Double, seed: Long): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    for {
      i <- 0 until n; j <- (i + 1) until n
      if rng.nextDouble() < p
    } yield (i.toLong, j.toLong)
  }

  private def adj(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val m = scala.collection.mutable.Map.empty[Long, Set[Long]]
    edges.foreach { case (a, b) =>
      m(a) = m.getOrElse(a, Set.empty) + b
      m(b) = m.getOrElse(b, Set.empty) + a
    }
    m.toMap
  }

  test("WCC equals brute-force min-label components on random graphs") {
    for (seed <- 1L to 4L) {
      val es = randomEdges(30, 0.08, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        // brute force: flood fill, component = min id reached
        def flood(v: Long): Set[Long] = {
          var seen = Set(v); var frontier = Set(v)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(a.getOrElse(_, Set.empty)) -- seen
            seen ++= frontier
          }
          seen
        }
        val expect = a.keys.map(v => v -> flood(v).min).toMap
        val und = Structure.symmetrize(edgeDF(es))
        val g = PropertyGraph(Structure.extractVertexList(und), und,
          GraphProperties(directed = false))
        val got = Components.wcc(g).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"seed $seed")
      }
    }
  }

  test("parity-fixpoint isBipartite equals brute-force 2-coloring on random graphs") {
    // the one-pass min-(label,parity) fixpoint is a novel formulation —
    // cross-check against textbook BFS 2-coloring on three families:
    // G(n,p) (usually odd-cycled), random bipartite (always bipartite),
    // and random bipartite plus one intra-side edge (never bipartite)
    def brute(es: Seq[(Long, Long)]): Boolean = {
      val a = adj(es)
      val color = scala.collection.mutable.Map.empty[Long, Int]
      var ok = true
      for (v <- a.keys if !color.contains(v)) {
        color(v) = 0
        var frontier = List(v)
        while (frontier.nonEmpty && ok) {
          frontier = frontier.flatMap { u =>
            a.getOrElse(u, Set.empty).toList.flatMap { w =>
              if (!color.contains(w)) { color(w) = 1 - color(u); Some(w) }
              else { if (color(w) == color(u)) ok = false; None }
            }
          }
        }
      }
      ok
    }
    val cases = (1L to 3L).flatMap { seed =>
      // random bipartite: left ids 0..11, right 12..23
      val rng = new scala.util.Random(seed * 7 + 1)
      val bip = for { i <- 0L until 12L; j <- 12L until 24L
                      if rng.nextDouble() < 0.15 } yield (i, j)
      Seq(s"gnp seed $seed" -> randomEdges(24, 0.09, seed),
        s"bipartite seed $seed" -> bip) ++
        (if (bip.nonEmpty) Seq(s"odd-cycled seed $seed" -> (bip :+ ((2L, 5L)))) else Nil)
    }.filter(_._2.nonEmpty)
    // every graph in ONE batched fixpoint: the graphs converge in different
    // rounds, and a converged graph's rows must not move while the rest run
    val got = Structure.bipartiteBatch(cases.map { case (tag, es) =>
      val und = Structure.symmetrize(edgeDF(es))
      tag -> PropertyGraph(Structure.extractVertexList(und), und,
        GraphProperties(directed = false))
    })
    assert(cases.exists(c => brute(c._2)) && cases.exists(c => !brute(c._2)))
    cases.foreach { case (tag, es) => assert(got(tag) == brute(es), tag) }
  }

  test("BFS distances equal brute-force levels on random graphs") {
    for (seed <- 1L to 4L) {
      val es = randomEdges(30, 0.1, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val src = a.keys.min
        var dist = Map(src -> 0); var frontier = Set(src); var d = 0
        while (frontier.nonEmpty) {
          d += 1
          frontier = frontier.flatMap(a.getOrElse(_, Set.empty))
            .filterNot(dist.contains)
          frontier.foreach(v => dist += v -> d)
        }
        val g = PropertyGraph(
          Structure.extractVertexList(edgeDF(es)),
          Structure.symmetrize(edgeDF(es)), GraphProperties(directed = false))
        val rows = Traversal.bfs(g, src).collect()
        val got = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == dist, s"seed $seed")
        // predecessor: the minimum neighbour one level up (-1 at the source)
        rows.foreach { r =>
          val v = r.getLong(0)
          val want = if (v == src) -1L else a(v).filter(dist.get(_).contains(dist(v) - 1)).min
          assert(r.getLong(2) == want, s"seed $seed predecessor of $v")
        }
        // the batched loop over 3 sources equals 3 single-source runs
        val srcs = a.keys.toSeq.sorted.take(3)
        val batched = MultiTraversal.msBfs(g, edgeDF(srcs.map(v => (v, v)))
            .select(col(SRC).as("source")))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
        val single = srcs.flatMap(s0 => Traversal.bfs(g, s0).collect()
          .map(r => (s0, r.getLong(0), r.getInt(1), r.getLong(2)))).toSet
        assert(batched == single, s"seed $seed msBfs")
      }
    }
  }

  test("per-vertex triangle counts equal brute force on random graphs") {
    for (seed <- 1L to 4L) {
      val es = randomEdges(24, 0.25, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val expect = a.keys.map { v =>
          val nb = a(v).toSeq
          v -> nb.combinations(2).count { case Seq(x, y) => a(x).contains(y) }.toLong
        }.toMap
        val got = Triangles.countPerVertex(graphOf(es, directed = false))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"seed $seed")
      }
    }
  }

  test("Jaccard all-pairs equals brute-force set math on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(20, 0.2, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val expect = (for {
          x <- a.keys.toSeq; y <- a.keys.toSeq if x < y
          i = (a(x) intersect a(y)).size if i >= 1
        } yield (x, y) -> i.toDouble / (a(x) union a(y)).size).toMap
        val got = Similarity.allPairs(graphOf(es, directed = false), Similarity.Jaccard)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(got.keySet == expect.keySet, s"seed $seed pairs")
        expect.foreach { case (k, v) =>
          assert(math.abs(got(k) - v) < 1e-12, s"seed $seed $k") }
      }
    }
  }

  test("Boruvka MST weight equals Prim's on random weighted graphs") {
    for (seed <- 1L to 4L) {
      val rng = new scala.util.Random(seed)
      // connected base path + random extras, distinct weights (no tie issues)
      val base = (0 until 19).map(i => (i.toLong, (i + 1).toLong))
      val extra = randomEdges(20, 0.15, seed + 100)
      val es = (base ++ extra).distinct
        .map { case (x, y) => (x, y, 1.0 + rng.nextInt(100000) / 7.0) }
      val a = scala.collection.mutable.Map.empty[Long, List[(Long, Double)]]
      es.foreach { case (x, y, w) =>
        a(x) = (y, w) :: a.getOrElse(x, Nil)
        a(y) = (x, w) :: a.getOrElse(y, Nil)
      }
      // Prim
      var inTree = Set(0L); var total = 0.0
      val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by(-_._1))
      a(0L).foreach { case (v, w) => pq.enqueue((w, v)) }
      while (inTree.size < a.size && pq.nonEmpty) {
        val (w, v) = pq.dequeue()
        if (!inTree(v)) {
          inTree += v; total += w
          a(v).foreach { case (u, wu) => if (!inTree(u)) pq.enqueue((wu, u)) }
        }
      }
      val mst = TreeDag.boruvkaMst(wGraphOf(es, directed = false))
      val got = mst.agg(sum(WEIGHT)).first().getDouble(0)
      assert(math.abs(got - total) < 1e-9, s"seed $seed: $got vs $total")
    }
  }

  test("SSSP distances equal Dijkstra on random weighted graphs") {
    for (seed <- 1L to 4L) {
      val rng = new scala.util.Random(seed)
      val es = randomEdges(25, 0.12, seed)
        .map { case (x, y) => (x, y, 1.0 + rng.nextInt(50)) }
      if (es.nonEmpty) {
        val a = scala.collection.mutable.Map.empty[Long, List[(Long, Double)]]
        es.foreach { case (x, y, w) =>
          a(x) = (y, w) :: a.getOrElse(x, Nil)
          a(y) = (x, w) :: a.getOrElse(y, Nil)
        }
        val src = a.keys.min
        val dist = scala.collection.mutable.Map(src -> 0.0)
        val pq = scala.collection.mutable.PriorityQueue((0.0, src))(Ordering.by(-_._1))
        while (pq.nonEmpty) {
          val (d, v) = pq.dequeue()
          if (d <= dist.getOrElse(v, Double.MaxValue)) {
            a.getOrElse(v, Nil).foreach { case (u, w) =>
              if (d + w < dist.getOrElse(u, Double.MaxValue)) {
                dist(u) = d + w; pq.enqueue((d + w, u))
              }
            }
          }
        }
        // sssp follows edges as given — pass the undirected (symmetrized) view
        val g = wGraphOf(es).symmetrized
        val got = Traversal.sssp(g, src).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.keySet == dist.keySet, s"seed $seed reach")
        dist.foreach { case (v, d) =>
          assert(math.abs(got(v) - d) < 1e-9, s"seed $seed v=$v") }
        // the origin-keyed loop equals one sssp per origin
        val origins = a.keys.toSeq.sorted.take(3)
        val od = MultiTraversal.odShortestDistancesWeighted(g,
            edgeDF(origins.map(v => (v, v))).select(col(SRC).as(ID)), g.vertices)._1
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val perOrigin = origins.flatMap(o => Traversal.sssp(g, o).collect()
          .map(r => (o, r.getLong(0)) -> r.getDouble(1))).toMap
        assert(od.keySet == perOrigin.keySet, s"seed $seed OD reach")
        perOrigin.foreach { case (k, d) =>
          assert(math.abs(od(k) - d) < 1e-9, s"seed $seed OD $k") }
      }
    }
  }

  test("exact betweenness equals brute-force Brandes on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(16, 0.2, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        val ebc = scala.collection.mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
        for (s <- a.keys) {
          // Brandes: BFS, sigma counts, dependency accumulation
          val sigma = scala.collection.mutable.Map(s -> 1.0).withDefaultValue(0.0)
          val dist = scala.collection.mutable.Map(s -> 0)
          val order = scala.collection.mutable.ArrayBuffer(s)
          var frontier = Seq(s)
          while (frontier.nonEmpty) {
            val next = scala.collection.mutable.LinkedHashSet.empty[Long]
            for (v <- frontier; u <- a(v).toSeq.sorted) {
              if (!dist.contains(u)) { dist(u) = dist(v) + 1; next += u }
              if (dist(u) == dist(v) + 1) sigma(u) += sigma(v)
            }
            next.foreach(order += _)
            frontier = next.toSeq
          }
          val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
          for (v <- order.reverse; u <- a(v) if dist.get(u).contains(dist(v) - 1)) {
            val c = sigma(u) / sigma(v) * (1.0 + delta(v))
            delta(u) += c
            ebc((u min v, u max v)) += c
          }
          order.drop(1).foreach(v => bc(v) += delta(v))
        }
        // undirected: ordered-pair accumulation halved (engine convention)
        val expect = a.keys.map(v => v -> bc(v) / 2.0).toMap
        val got = Centrality.betweenness(graphOf(es, directed = false),
          k = None, normalized = false).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        expect.foreach { case (v, x) =>
          assert(math.abs(got(v) - x) < 1e-9, s"seed $seed v=$v: ${got(v)} vs $x") }
        // edge variant: one row per canonical edge, the same halving
        val (edgeBc, _) = Centrality.edgeBetweennessWithLevels(graphOf(es, directed = false),
          k = None, normalized = false)
        val gotE = edgeBc.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(gotE.keySet == es.toSet, s"seed $seed edge rows")
        es.foreach { e =>
          assert(math.abs(gotE(e) - ebc(e) / 2.0) < 1e-9, s"seed $seed edge $e: ${gotE(e)} vs ${ebc(e) / 2.0}") }
      }
    }
  }

  test("PageRank, Katz and eigenvector match in-memory power iteration on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(25, 0.12, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val n = a.size
        val und = Structure.symmetrize(edgeDF(es))
        val g = PropertyGraph(Structure.extractVertexList(und), und,
          GraphProperties(directed = false))
        // --- PageRank: pr' = α·Σ pr(u)/deg(u) + (1−α)/n, 8 fixed iters
        val alpha = 0.85
        var pr = a.keys.map(_ -> 1.0 / n).toMap
        for (_ <- 1 to 8)
          pr = a.keys.map { v =>
            v -> (alpha * a(v).toSeq.map(u => pr(u) / a(u).size).sum + (1 - alpha) / n)
          }.toMap
        val gotPr = PageRank.runFixed(g, iters = 8).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        pr.foreach { case (v, x) =>
          assert(math.abs(gotPr(v) - x) < 1e-8, s"pagerank seed $seed v=$v") }
        // --- Katz: c' = αk·Σ_in c + β, 8 iters, final L2 normalization
        val (ak, beta) = (0.05, 1.0)
        var kz = a.keys.map(_ -> beta).toMap
        for (_ <- 1 to 8)
          kz = a.keys.map(v => v -> (ak * a(v).toSeq.map(kz).sum + beta)).toMap
        val kNorm = math.sqrt(kz.values.map(x => x * x).sum)
        val gotK = Centrality.katz(g, alpha = ak, beta = beta, maxIter = 8, tol = -1.0)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        kz.foreach { case (v, x) =>
          assert(math.abs(gotK(v) - x / kNorm) < 1e-8, s"katz seed $seed v=$v") }
        // --- eigenvector: per-round in-sum + L2 normalization, 8 iters
        var ec = a.keys.map(_ -> 1.0 / math.sqrt(n.toDouble)).toMap
        for (_ <- 1 to 8) {
          val raw = a.keys.map(v => v -> a(v).toSeq.map(ec).sum).toMap
          val norm = math.sqrt(raw.values.map(x => x * x).sum)
          ec = raw.map { case (v, x) => v -> x / (if (norm == 0) 1.0 else norm) }
        }
        val gotE = Centrality.eigenvector(g, maxIter = 8, tol = -1.0).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        ec.foreach { case (v, x) =>
          assert(math.abs(gotE(v) - x) < 1e-8, s"eigen seed $seed v=$v") }
      }
    }
  }

  test("Louvain labels are single-move locally optimal on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(20, 0.2, seed)
      if (es.nonEmpty) {
        val und = Structure.symmetrize(wEdgeDF(es.map { case (a, b) => (a, b, 1.0) }))
        val g = PropertyGraph(Structure.extractVertexList(und), und,
          GraphProperties(directed = false, weighted = true))
        // one level: multi-level contraction can break ORIGINAL-vertex
        // single-move optimality (the invariant holds per level, at that
        // level's granularity), so the property is asserted where Louvain
        // guarantees it — a CONVERGED level-1 move phase (a capped exit
        // leaves labels mid-flight)
        val (lblDf, rounds, converged) = Community.oneLevelWithRounds(g, maxIter = 150)
        assert(converged, s"seed $seed: move phase did not converge in $rounds rounds")
        val labels = lblDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val a = adj(es)
        val m2 = 2.0 * es.size // Σ of symmetrized weights
        def deg(v: Long) = a(v).size.toDouble
        def modularity(lbl: Map[Long, Long]): Double = {
          val inW = es.filter { case (x, y) => lbl(x) == lbl(y) }.size * 2.0
          // keys is a Set — map through toSeq or equal degrees collapse
          val tot = lbl.groupBy(_._2).values
            .map(c => c.keys.toSeq.map(deg).sum).map(t => t * t).sum
          inW / m2 - tot / (m2 * m2)
        }
        val q0 = modularity(labels)
        // no single-vertex move to a neighboring community may improve Q
        for (v <- a.keys; c <- (a(v).map(labels) + labels(v)) if c != labels(v)) {
          val q1 = modularity(labels + (v -> c))
          assert(q1 <= q0 + 1e-9, s"seed $seed: moving $v to $c gains ${q1 - q0}")
        }
      }
    }
  }

  test("HITS matches in-memory sum-normalized half-rounds on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(20, 0.15, seed)
      if (es.nonEmpty) {
        // directed: keep the canonical orientation
        val out = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val in = es.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
        val vs = (es.map(_._1) ++ es.map(_._2)).distinct
        var hub = vs.map(_ -> 1.0).toMap
        var auth = vs.map(_ -> 1.0).toMap
        for (_ <- 1 to 6) {
          val a0 = vs.map(v => v -> in.getOrElse(v, Set.empty).toSeq.map(hub).sum).toMap
          val an = a0.values.sum
          auth = a0.map { case (v, x) => v -> x / (if (an == 0) 1.0 else an) }
          val h0 = vs.map(v => v -> out.getOrElse(v, Set.empty).toSeq.map(auth).sum).toMap
          val hn = h0.values.sum
          hub = h0.map { case (v, x) => v -> x / (if (hn == 0) 1.0 else hn) }
        }
        val got = Centrality.hits(graphOf(es), maxIter = 6, tol = -1.0).collect()
          .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        vs.foreach { v =>
          assert(math.abs(got(v)._1 - hub(v)) < 1e-8, s"hub seed $seed v=$v")
          assert(math.abs(got(v)._2 - auth(v)) < 1e-8, s"auth seed $seed v=$v")
        }
      }
    }
  }

  test("neighbor sampling and negative sampling hold their contracts on random graphs") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1L to 3L) {
      val es = randomEdges(25, 0.15, seed + 10)
      if (es.nonEmpty) {
        val dirEdges = edgeDF(es)
        val eSet = es.toSet
        val seeds = Seq((0L, es.head._1), (1L, es.last._1)).toDF("batch_id", "vertex")
        val sampled = graft.sampling.NeighborSampling.homogeneous(
          dirEdges, seeds, fanouts = Seq(3, 2), seed = seed).collect()
        // every sampled edge exists in the graph
        sampled.foreach { r =>
          assert(eSet((r.getLong(2), r.getLong(3))), s"seed $seed: fake edge") }
        // per (batch, hop, src) at most the hop's fanout
        val byKey = sampled.groupBy(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        byKey.foreach { case ((_, hop, _), rows) =>
          assert(rows.size <= (if (hop == 0) 3 else 2), s"seed $seed: fanout") }
        // negative samples: valid vertices, never an existing edge
        val verts = Structure.extractVertexList(dirEdges)
        val vSet = verts.collect().map(_.getLong(0)).toSet
        val neg = graft.sampling.NeighborSampling.negative(
          dirEdges, verts, n = 30, seed = seed).collect()
        neg.foreach { r =>
          val (s2, d) = (r.getLong(1), r.getLong(2))
          assert(vSet(s2) && vSet(d) && s2 != d && !eSet((s2, d)),
            s"seed $seed: bad negative ($s2,$d)")
        }
      }
    }
  }

  test("SCC equals Kosaraju min-label components on random directed graphs") {
    for (seed <- 1L to 3L) {
      val rng = new scala.util.Random(seed)
      val es = for { i <- 0 until 18; j <- 0 until 18
                     if i != j && rng.nextDouble() < 0.12 }
        yield (i.toLong, j.toLong)
      if (es.nonEmpty) {
        val out = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val in = es.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
        val vs = (es.map(_._1) ++ es.map(_._2)).distinct
        def reach(v: Long, nbrs: Map[Long, Set[Long]]): Set[Long] = {
          var seen = Set(v); var fr = Set(v)
          while (fr.nonEmpty) {
            fr = fr.flatMap(nbrs.getOrElse(_, Set.empty)) -- seen; seen ++= fr
          }
          seen
        }
        val expect = vs.map { v =>
          v -> (reach(v, out) intersect reach(v, in)).min
        }.toMap
        // engine components must partition identically (labels may differ);
        // both sides canonicalize to the min member, so compare directly.
        // Caps of 1 run the trim one sweep at a time and the coloring
        // through its cap doubling, round after round
        for ((propCap, trimCap) <- Seq((20, 20), (1, 1))) {
          val got = Components.scc(graphOf(es), propCap = propCap, trimCap = trimCap).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expect, s"seed $seed, propCap $propCap, trimCap $trimCap")
        }
      }
    }
  }

  test("vertex coloring is proper and matching is maximal on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(22, 0.18, seed)
      if (es.nonEmpty) {
        val a = adj(es)
        val colors = Misc.vertexColoring(graphOf(es, directed = false))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        es.foreach { case (x, y) =>
          assert(colors(x) != colors(y), s"seed $seed: improper edge ($x,$y)") }
        val m = Misc.weightedMatching(
          wGraphOf(es.map { case (x, y) => (x, y, 1.0) }, directed = false),
          rounds = 15)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val matched = m.flatMap(p => Seq(p._1, p._2))
        assert(matched.distinct.size == matched.size, s"seed $seed: vertex reused")
        // maximality: no edge with both endpoints unmatched
        val free = a.keySet -- matched.toSet
        es.foreach { case (x, y) =>
          assert(!(free(x) && free(y)), s"seed $seed: augmentable edge ($x,$y)") }
      }
    }
  }

  test("Leiden communities are internally connected on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(24, 0.12, seed)
      if (es.nonEmpty) {
        val und = Structure.symmetrize(wEdgeDF(es.map { case (a, b) => (a, b, 1.0) }))
        val g = PropertyGraph(Structure.extractVertexList(und), und,
          GraphProperties(directed = false, weighted = true))
        val labels = Community.leiden(g, maxLevel = 3, maxIter = 20)._1
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val a = adj(es)
        labels.groupBy(_._2).values.map(_.keySet).foreach { comm =>
          // flood within the community must reach every member
          val start = comm.head
          var seen = Set(start); var frontier = Set(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(v =>
              a.getOrElse(v, Set.empty).filter(comm)) -- seen
            seen ++= frontier
          }
          assert(seen == comm, s"seed $seed: community $comm not connected")
        }
      }
    }
  }

  test("star-contraction WCC equals label-propagation WCC on random graphs") {
    for (seed <- 1L to 4L) {
      val es = randomEdges(40, 0.05, seed)
      if (es.nonEmpty) {
        val und = Structure.symmetrize(edgeDF(es))
        val g = PropertyGraph(Structure.extractVertexList(und), und,
          GraphProperties(directed = false))
        val lp = Components.wcc(g).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val star = Components.wccStar(g)._1.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(star == lp, s"seed $seed")
      }
    }
  }

  test("k-truss equals iterative support peeling on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(18, 0.3, seed)
      if (es.nonEmpty) {
        // brute force 4-truss: repeatedly drop edges in < 2 triangles
        var keep = es.toSet
        var changed = true
        while (changed) {
          val nb = scala.collection.mutable.Map.empty[Long, Set[Long]]
          keep.foreach { case (x, y) =>
            nb(x) = nb.getOrElse(x, Set.empty) + y
            nb(y) = nb.getOrElse(y, Set.empty) + x
          }
          val next = keep.filter { case (x, y) =>
            (nb(x) intersect nb(y)).size >= 2
          }
          changed = next != keep
          keep = next
        }
        val got = Triangles.kTruss(graphOf(es, directed = false), k = 4)
          .select(SRC, DST)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // engine emits canonical a<b pairs for kept edges
        val expect = keep.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
        assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size}")
      }
    }
  }

  test("k-truss bulk-recompute and incremental regimes are bit-identical") {
    // r11 regime switch: a bulk round recomputes survivor support from
    // scratch instead of seeding wedges from the deleted set. The peel is
    // confluent, so forcing EVERY round through either regime must land on
    // the same fixpoint (and the same canonical edge set) as the other.
    for (seed <- 4L to 6L) {
      val es = randomEdges(20, 0.25, seed)
      if (es.nonEmpty) {
        val g = graphOf(es, directed = false)
        def run(frac: Double) =
          Triangles.kTrussWithRounds(g, k = 4, bulkRecomputeFrac = frac)._1
            .select(SRC, DST).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val bulk = run(0.0)          // every deleting round recomputes
        val incr = run(Double.MaxValue) // never recomputes
        assert(bulk == incr, s"seed $seed: ${bulk.size} vs ${incr.size}")
      }
    }
  }

  test("core numbers equal the sequential peel on random graphs") {
    for (seed <- 1L to 3L) {
      val es = randomEdges(24, 0.2, seed)
      // directed: each pair in one random orientation, plus a self-loop and
      // a duplicate edge that the simple graph drops
      val rng = new scala.util.Random(seed)
      val des = es.map(e => if (rng.nextBoolean()) e else e.swap)
      val cases = Seq("bidirectional" -> es) ++
        (if (des.nonEmpty) Seq("incoming", "outgoing").map(_ -> (des ++ Seq(des.head,
          (des.head._1, des.head._1)))) else Nil)
      for ((dt, input) <- cases if input.nonEmpty) {
        val vs = input.flatMap(e => Seq(e._1, e._2)).distinct
        val got = Components.coreNumber(graphOf(input, directed = dt != "bidirectional"),
            degreeType = dt)
          .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
        assert(got == CorePeel(vs, input, dt), s"seed $seed, $dt")
      }
    }
  }

}
