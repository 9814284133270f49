package graft

import graft.prims.Mat._
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Structure, GraphBuilder, GraphClasses, Gr}
import graft.algos._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an implemented operator from SURVEY §2 run
  * against a deterministic graph projection of the driver's TPC-H-ish
  * tables (graft.Fixtures); `oracleSql` holds the DuckDB-equivalent SQL
  * (iterative algorithms: unrolled, see graft.OracleSql).
  */
object SparkEntry {
  import Gr._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * build the supplier co-order graph and rank suppliers by PageRank. */
  def entry(spark: SparkSession): DataFrame = {
    val g = Fixtures.supplierGraphUnd(spark, "/root/testdata/sf0.001")
    // WithStatus: 20 rounds is a smoke budget, not a tolerance contract —
    // run() would now throw FailedToConvergeException per the reference's
    // fail_on_nonconvergence=True default (alpha^20 ≈ 0.04 > 1e-5).
    PageRank.runWithStatus(g, maxIter = 20)._1.orderBy(desc("pagerank"))
  }

  private def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame = f

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- structure ops (SURVEY §2.2) ----
    "q_degrees" -> q { (s, dir) =>
      Structure.degrees(Fixtures.custSuppGraph(s, dir))
    },
    "q_symmetrize" -> q { (s, dir) =>
      Structure.symmetrize(Fixtures.supplierEdges(s, dir))
    },
    "q_two_hop" -> q { (s, dir) =>
      Structure.twoHopNeighbors(Fixtures.supplierEdges(s, dir))
    },
    "q_induced_subgraph" -> q { (s, dir) =>
      val e = Fixtures.supplierEdges(s, dir)
      val verts = Structure.extractVertexList(e).filter(col(ID) % 3 === 0)
      Structure.inducedSubgraph(e, verts)
    },
    "q_khop" -> q { (s, dir) =>
      val e = Fixtures.supplierEdges(s, dir)
      val seeds = e.agg(min(SRC).as(ID))
      Structure.kHopNeighbors(Structure.symmetrize(e), seeds, 2)
    },
    // ---- traversal (§2.3) ----
    "q_bfs" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val res = Traversal.bfs(g, src)
        .select(col(ID), col("distance").cast("long").as("distance"))
        .mat
      // the DuckDB oracle's recursive CTE is depth-capped at 12: assert the
      // Spark side finished within that budget rather than silently relying
      // on a low-diameter fixture (ADVICE r1).
      val maxDepth = res.agg(max("distance")).first().getLong(0)
      require(maxDepth <= 12, s"BFS depth $maxDepth exceeds oracle budget 12")
      res
    },
    "q_traversed_cost" -> q { (s, dir) =>
      // get_traversed_cost (path_retrieval.py): per-edge weight summed
      // along each vertex's BFS predecessor path; tree is deterministic
      // (min-predecessor), so the DuckDB unroll reproduces it exactly
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val res = Traversal.bfs(g, src).mat
      require(res.agg(max("distance")).first().getInt(0) <= 12,
        "BFS depth exceeds oracle budget 12")
      Traversal.traversedCost(res, g.edges)
        .select(col(ID), round(col("info"), 6).as("info"))
    },
    // ---- link analysis / centrality (§2.4) ----
    "q_pagerank" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      PageRank.runFixed(g, iters = 10)
        .select(col(ID), round(col("pagerank"), 6).as("pagerank"))
    },
    "q_sssp" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val (res, rounds) = Traversal.ssspWithRounds(g, src)
      require(rounds <= 10, s"SSSP took $rounds rounds, oracle budget is 10")
      res.select(col(ID), round(col("distance"), 6).as("distance"))
    },
    "q_bfs_edges" -> q { (s, dir) =>
      // BFS forest edges (reference bfs_edges, traversal/bfs.py:199):
      // (predecessor → vertex) rows, deterministic min-predecessor tree
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val res = Traversal.bfs(g, src).mat
      require(res.agg(max("distance")).first().getInt(0) <= 12,
        "BFS depth exceeds oracle budget 12")
      res.filter(col("predecessor") =!= -1L)
        .select(col("predecessor").as(SRC), col(ID).as(DST))
    },
    "q_shortest_path" -> q { (s, dir) =>
      // shortest_path (reference sssp.py:263): the weighted-SSSP vertex
      // sequence from the min-id source to the max-id vertex, one row per
      // hop position, reconstructed by predecessor walk-back
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val tgt = g.vertices.agg(max(ID)).first().getLong(0)
      val (res, rounds) = Traversal.ssspWithRounds(g, src)
      require(rounds <= 10, s"SSSP took $rounds rounds, oracle budget is 10")
      MultiTraversal.extractBfsPaths(res.mat,
        res.filter(col(ID) === tgt).select(ID), maxDepth = 200)
    },
    "q_shortest_path_length" -> q { (s, dir) =>
      // shortest_path_length (reference sssp.py:289): SSSP distance to one
      // target — the min-id source to the max-id vertex
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val tgt = g.vertices.agg(max(ID)).first().getLong(0)
      val (res, rounds) = Traversal.ssspWithRounds(g, src)
      require(rounds <= 10, s"SSSP took $rounds rounds, oracle budget is 10")
      res.filter(col(ID) === tgt)
        .select(col(ID), round(col("distance"), 6).as("distance"))
    },
    "q_remove_multi" -> q { (s, dir) =>
      // remove_multi_edges with keep_min_value_edge
      // (graph_functions.hpp:1131): collapse the lineitem-row multigraph,
      // keeping the minimum-weight parallel edge
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val raw = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as(SRC), (col("l_suppkey") + 100000L).as(DST),
          col("l_extendedprice").as(WEIGHT))
      Structure.removeMultiEdges(raw, keepMinWeight = true)
    },
    "q_replicate" -> q { (s, dir) =>
      // replicate_edgelist (structure/replicate_edgelist.py): every worker
      // gets the full edge list — in Spark terms, a broadcast of the edge
      // frame. The gate pins both the values (identity) and that the
      // broadcast hint actually survives analysis.
      val r = graft.sources.Convert.replicate(Fixtures.supplierEdges(s, dir))
      require(r.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "replicate must carry a broadcast hint")
      r.select(SRC, DST, WEIGHT)
    },
    "q_is_bipartite" -> q { (s, dir) =>
      // structural is_bipartite (graph_classes.py answers from declaration;
      // PropertyGraph.isBipartite is the structural check: per-component
      // msBFS parity coloring + conflict scan). Two fixtures: the
      // customer×supplier graph is bipartite by construction, the supplier
      // co-order graph has triangles.
      import s.implicits._
      // r11-opt: both graphs' parity fixpoints run BATCHED under a gid key
      // (Structure.bipartiteBatch) — one set of per-round jobs, same
      // booleans as two isBipartite calls
      val r = Structure.bipartiteBatch(Seq(
        "cust_supp" -> Fixtures.custSuppGraph(s, dir),
        "supplier" -> Fixtures.supplierGraph(s, dir)))
      Seq(("cust_supp", r("cust_supp")), ("supplier", r("supplier")))
        .toDF("graph", "is_bipartite")
    },
    "q_bicliques" -> q { (s, dir) =>
      // EXPERIMENTAL find_bicliques (experimental/structure/bicliques.py):
      // top-5 bicliques of the customer×supplier bipartite graph, flag =
      // customers divisible by 7 marked "bad"
      val e = Fixtures.custSuppEdges(s, dir)
        .select(col(SRC), col(DST), (col(SRC) % 7 === 0).cast("long").as("flag"))
      Bicliques.findBicliques(e, k = 5, support = 0.38, minFeatures = 1,
        minMachines = 100, maxIter = 20)._1
    },
    "q_bicliques_stats" -> q { (s, dir) =>
      // the S side of the same call: per-biclique sizes + bad-machine ratio
      val e = Fixtures.custSuppEdges(s, dir)
        .select(col(SRC), col(DST), (col(SRC) % 7 === 0).cast("long").as("flag"))
      Bicliques.findBicliques(e, k = 5, support = 0.38, minFeatures = 1,
        minMachines = 100, maxIter = 20)._2
    },
    "q_katz" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      Centrality.katz(g, alpha = 0.005, beta = 1.0, maxIter = 10, tol = -1.0)
        .select(col(ID), round(col("katz"), 6).as("katz"))
    },
    "q_eigenvector" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      Centrality.eigenvector(g, maxIter = 10, tol = -1.0)
        .select(col(ID), round(col("ec"), 6).as("ec"))
    },
    "q_hits" -> q { (s, dir) =>
      val g = Fixtures.custSuppGraph(s, dir)
      Centrality.hits(g, maxIter = 4, tol = -1.0)
        .select(col(ID), round(col("hubs"), 6).as("hubs"),
          round(col("authorities"), 6).as("authorities"))
    },
    "q_hits_nstart" -> q { (s, dir) =>
      // warm-start hubs from the out-degree frame (suppliers — absent from
      // nstart — start at 0) + normalized=false (max-scaled output): the
      // reference's remaining HITS options (`hits.py:37-47`)
      val g = Fixtures.custSuppGraph(s, dir)
      val n0 = g.edges.groupBy(col(SRC).as(ID))
        .agg(count(lit(1)).cast("double").as("h0"))
      Centrality.hits(g, maxIter = 3, tol = -1.0,
          nstart = Some(n0), normalized = false)
        .select(col(ID), round(col("hubs"), 6).as("hubs"),
          round(col("authorities"), 6).as("authorities"))
    },
    "q_pagerank_directed" -> q { (s, dir) =>
      // directed bipartite graph: suppliers are dangling sinks — exercises
      // the dangling-mass redistribution branch with edge weights.
      val g = Fixtures.custSuppGraph(s, dir)
      PageRank.run(g, tol = -1.0, maxIter = 10, weighted = true)
        .select(col(ID), round(col("pagerank"), 6).as("pagerank"))
    },
    "q_ppr" -> q { (s, dir) =>
      // personalized PageRank: restart mass uniform over 5 seed vertices
      val g = Fixtures.supplierGraphUnd(s, dir)
      val seeds = Fixtures.seedVertices(s, dir, 5).withColumn("value", lit(1.0))
      PageRank.run(g, tol = -1.0, maxIter = 10, personalization = Some(seeds))
        .select(col(ID), round(col("pagerank"), 6).as("pagerank"))
    },
    "q_degree_centrality" -> q { (s, dir) =>
      Centrality.degreeCentrality(Fixtures.custSuppGraph(s, dir))
        .select(col(ID), round(col("degree_centrality"), 6).as("degree_centrality"))
    },
    "q_betweenness" -> q { (s, dir) =>
      // k-sampled roots (reference `k` param): all-source Brandes on the
      // sf0.1 graph is 30x the work for the same oracle coverage. The
      // states are the session-shared kernel (Fixtures.supplierBrandes) —
      // this first toucher pays the forward/backward accumulation.
      val st = Fixtures.supplierBrandes(s, dir)
      require(st.levels <= 4, s"BFS eccentricity ${st.levels} exceeds oracle level budget 4")
      val res = Centrality.betweennessFromStates(st, k = Some(32),
        normalized = true, directed = false, endpoints = false)
      res.select(col(ID), round(col("betweenness_centrality"), 6).as("betweenness_centrality"))
    },
    "q_betweenness_endpoints" -> q { (s, dir) =>
      // endpoints=True option (reference betweenness_centrality.py:16):
      // same Brandes states, endpoint terms from the settled set
      val st = Fixtures.supplierBrandes(s, dir)
      require(st.levels <= 4, s"BFS eccentricity ${st.levels} exceeds oracle level budget 4")
      val res = Centrality.betweennessFromStates(st, k = Some(32),
        normalized = true, directed = false, endpoints = true)
      res.select(col(ID), round(col("betweenness_centrality"), 6).as("betweenness_centrality"))
    },
    "q_edge_betweenness" -> q { (s, dir) =>
      val g = Fixtures.supplierGraph(s, dir)
      val (res, levels) = Centrality.edgeBetweennessWithLevels(g, k = Some(16))
      require(levels <= 4, s"BFS eccentricity $levels exceeds oracle level budget 4")
      res.select(col(SRC), col(DST),
        round(col("betweenness_centrality"), 6).as("betweenness_centrality"))
    },
    // ---- components (§2.5) ----
    "q_wcc" -> q { (s, dir) =>
      val (labels, rounds) = Components.wccWithRounds(Fixtures.supplierGraph(s, dir))
      // oracle unrolls 10 label-propagation rounds: assert fixpoint within it
      require(rounds <= 10, s"WCC took $rounds rounds, oracle budget is 10")
      labels
    },
    "q_triangles" -> q { (s, dir) =>
      // per-vertex counts from the shared edge-support kernel:
      // tri(v) = Σ supports of v's incident edges / 2
      val sup = Fixtures.supplierEdgeSupport(s, dir)
      val per = sup.select(col(SRC).as(ID), col("support"))
        .union(sup.select(col(DST).as(ID), col("support")))
        .groupBy(ID).agg((sum("support") / 2).cast("long").as("triangle_count"))
      Fixtures.supplierGraph(s, dir).vertices.select(ID)
        .join(per, Seq(ID), "left")
        .select(col(ID), coalesce(col("triangle_count"), lit(0L)).as("triangle_count"))
    },
    "q_scc" -> q { (s, dir) =>
      Components.scc(Fixtures.cyclicSupplierGraph(s, dir))
    },
    "q_edge_triangles" -> q { (s, dir) =>
      Fixtures.supplierEdgeSupport(s, dir)
    },
    "q_ktruss" -> q { (s, dir) =>
      val (res, rounds) = Triangles.kTrussWithRounds(Fixtures.supplierGraph(s, dir), k = 4)
      require(rounds <= 3, s"k-truss took $rounds rounds, oracle budget is 3")
      res
    },
    // The supplier fixture is near-complete, so q_ktruss proves the dense
    // lower-bound early exit; the RMAT fixture actually PEELS — this pair
    // gates the round loop itself, once per maintenance regime (default
    // mixed incremental/bulk, and bulk recompute forced on every round).
    "q_ktruss_rmat" -> q { (s, _) =>
      val (res, rounds) = Triangles.kTrussWithRounds(Fixtures.rmatGraph(s), k = 5)
      require(rounds <= 6, s"rmat k-truss took $rounds rounds, oracle budget is 6")
      res
    },
    "q_ktruss_bulk" -> q { (s, _) =>
      val (res, rounds) = Triangles.kTrussWithRounds(Fixtures.rmatGraph(s), k = 5,
        bulkRecomputeFrac = 0.0)
      require(rounds <= 6, s"bulk k-truss took $rounds rounds, oracle budget is 6")
      res
    },
    "q_core_number" -> q { (s, _) =>
      // RMAT fixture: SF-independent core values 1..9, so the DuckDB per-k
      // cascade unroll (maxK=10, 9 rounds) is provably sufficient. The
      // h-index fixpoint (== peel result, cross-checked in AlgoSpec on this
      // exact fixture) costs O(sweeps) jobs instead of O(peel rounds); the
      // max-core assert still fails loudly if the fixture outgrows the
      // oracle's unroll, and an insufficient per-k round budget surfaces as
      // a driver hash mismatch.
      val (res, _) = Components.coreNumberHIndex(Fixtures.rmatGraph(s))
      val maxCore = res.agg(max("core_number")).first().getLong(0)
      require(maxCore <= 9, s"max core $maxCore exceeds oracle unroll budget 9")
      res.select(col(ID), col("core_number").cast("long").as("core_number"))
    },
    "q_core_number_in" -> q { (s, _) =>
      val (res, _) =
        Components.coreNumberHIndex(Fixtures.rmatGraph(s), degreeType = "incoming")
      val maxCore = res.agg(max("core_number")).first().getLong(0)
      require(maxCore <= 7, s"max in-core $maxCore exceeds oracle unroll budget 7")
      res.select(col(ID), col("core_number").cast("long").as("core_number"))
    },
    "q_core_number_out" -> q { (s, _) =>
      val (res, _) =
        Components.coreNumberHIndex(Fixtures.rmatGraph(s), degreeType = "outgoing")
      val maxCore = res.agg(max("core_number")).first().getLong(0)
      require(maxCore <= 7, s"max out-core $maxCore exceeds oracle unroll budget 7")
      res.select(col(ID), col("core_number").cast("long").as("core_number"))
    },
    "q_kcore" -> q { (s, dir) =>
      val (core, rounds) = Components.kCoreWithRounds(Fixtures.supplierGraph(s, dir), k = 50)
      require(rounds <= 4, s"k-core cascade took $rounds rounds, oracle budget is 4")
      core
    },
    "q_louvain" -> q { (s, dir) =>
      val (labels, q, levels) =
        Community.louvainWithLevels(Fixtures.partGraph(s, dir), maxLevel = 2, maxIter = 5)
      // quality floor: recorded 0.0515 (sf0.01) / 0.0493 (sf0.1) — a
      // degraded move phase (e.g. broken gain formula or oscillation
      // re-appearing) lands well below it
      require(!q.isNaN && q >= 0.04, s"louvain modularity $q below recorded floor 0.04")
      // EXACT since r5: MiscSql.louvainFullPart unrolls both levels plus
      // the contraction unconditionally — assert that branch is the one
      // the run actually took (level 2 entered on modularity improvement)
      require(levels == 2, s"oracle unrolls exactly 2 levels, ran $levels")
      labels
    },
    "q_louvain_l1" -> q { (s, dir) =>
      // EXACT Louvain gate: level-1 move phase on the supplier graph, the
      // full deterministic schedule unrolled in DuckDB (MiscSql
      // .louvainL1Supplier). Integral weights make the gain arithmetic
      // bit-reproducible across engines, so this pins the real move logic
      // — gain formula, tie-breaks, parity escalation — not just a floor.
      val (labels, rounds, _) = Fixtures.supplierLouvainL1(s, dir)
      require(rounds <= 8, s"louvain level-1 took $rounds rounds, oracle unrolls 8")
      labels
    },
    "q_modularity" -> q { (s, dir) =>
      // modularity of the supplier-nation partition — exact scalar metric
      val und = Structure.symmetrize(Fixtures.supplierEdges(s, dir))
      val labels = Tables(s, dir, "supplier")
        .select(col("s_suppkey").as(ID), col("s_nationkey").cast("long").as("c"))
      val m = Community.modularity(und, labels)
      s.range(1).select(round(lit(m), 6).as("modularity"))
    },
    "q_mst" -> q { (s, dir) =>
      val (mst, rounds) = TreeDag.boruvkaMstWithRounds(Fixtures.supplierGraphUnd(s, dir))
      require(rounds <= 8, s"Boruvka took $rounds rounds, oracle budget is 7")
      mst
    },
    "q_mst_max" -> q { (s, dir) =>
      // reference tree/minimum_spanning_tree.py:106 maximum_spanning_tree
      val (mst, rounds) =
        TreeDag.boruvkaMstWithRounds(Fixtures.supplierGraphUnd(s, dir), maximum = true)
      require(rounds <= 8, s"Boruvka took $rounds rounds, oracle budget is 7")
      mst
    },
    "q_topo_sort" -> q { (s, dir) =>
      TreeDag.topologicalLevels(Fixtures.hierarchyDag(s, dir))
        .select(col(ID), col("level").cast("long").as("level"))
    },
    // ---- structure extras (§2.2) ----
    "q_ego" -> q { (s, dir) =>
      val e = Fixtures.supplierEdges(s, dir)
      val und = Structure.symmetrize(e.select(SRC, DST))
      val seeds = e.agg(min(SRC).as(ID))
      Structure.inducedSubgraph(e, Structure.kHopNeighbors(und, seeds, 2))
    },
    "q_ego_batched" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      MultiTraversal.batchedEgo(g, Fixtures.seedVertices(s, dir, 3), radius = 2)
    },
    "q_two_hop_seeded" -> q { (s, dir) =>
      Structure.twoHopNeighbors(Fixtures.supplierEdges(s, dir),
        Some(Fixtures.seedVertices(s, dir, 3)))
    },
    "q_coarsen" -> q { (s, dir) =>
      val labels = Tables(s, dir, "supplier")
        .select(col("s_suppkey").as(ID), col("s_nationkey").cast("long").as("label"))
      Structure.coarsen(Fixtures.supplierEdges(s, dir), labels)
    },
    "q_renumber" -> q { (s, dir) =>
      // string external ids through the full renumber path, deterministic
      // sorted id assignment so the oracle can reproduce it with row_number
      val ext = Fixtures.supplierEdges(s, dir).select(
        concat(lit("S"), col(SRC).cast("string")).as("es"),
        concat(lit("S"), col(DST).cast("string")).as("ed"),
        col(WEIGHT))
      val g = GraphBuilder.fromEdgesRenumbered(ext, Seq("es"), Seq("ed"),
        Some(WEIGHT), directed = true, sorted = true)
      g.edges.select(SRC, DST, WEIGHT)
    },
    "q_hypergraph" -> q { (s, dir) =>
      graft.core.Hypergraph.edges(Fixtures.events(s, dir), "event_id",
        Seq("event_type", "user_id"))
    },
    "q_hypergraph_nodes" -> q { (s, dir) =>
      graft.core.Hypergraph.nodes(Fixtures.events(s, dir), "event_id",
        Seq("event_type", "user_id"))
    },
    "q_hypergraph_direct" -> q { (s, dir) =>
      graft.core.Hypergraph.directEdges(Fixtures.events(s, dir), "event_id",
        Seq("event_type", "user_id"))
    },
    "q_hypergraph_flat" -> q { (s, dir) =>
      // categorical_metadata = false: raw values as node keys, nulls kept
      graft.core.Hypergraph.edges(Fixtures.events(s, dir), "event_id",
        Seq("event_type", "user_id"), categoricalMetadata = false, dropNa = false)
    },
    "q_hypergraph_direct_attrs" -> q { (s, dir) =>
      // drop_edge_attrs = false: co-occurrence rows keep their event id
      graft.core.Hypergraph.directEdgesWithEvent(Fixtures.events(s, dir), "event_id",
        Seq("event_type", "user_id"))
    },
    // ---- training-data pipeline: dedup / similarity / text / multimodal ----
    "q_dedup_exact" -> q { (s, dir) =>
      pipeline.Dedup.exact(Fixtures.documents(s, dir))
    },
    "q_minhash" -> q { (s, dir) =>
      pipeline.Dedup.minhash(Fixtures.documents(s, dir), n = 3, k = 8)
    },
    "q_lsh_pairs" -> q { (s, dir) =>
      pipeline.Dedup.minhashLshPairs(Fixtures.documents(s, dir),
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.2)
    },
    "q_ngram_jaccard" -> q { (s, dir) =>
      pipeline.Dedup.ngramJaccardPairs(Fixtures.documents(s, dir), n = 3, threshold = 0.2,
        shinglesPre = Some(Fixtures.documentShingles3(s, dir)))
    },
    "q_ngram_jaccard_capped" -> q { (s, dir) =>
      // the web-scale path: hub shingles (df > 20) excluded from candidate
      // generation, exact Jaccard on the survivors
      pipeline.Dedup.ngramJaccardPairs(Fixtures.documents(s, dir), n = 3, threshold = 0.2,
        maxShingleDf = 20, shinglesPre = Some(Fixtures.documentShingles3(s, dir)))
    },
    "q_simhash" -> q { (s, dir) =>
      pipeline.Dedup.simhash(Fixtures.documents(s, dir), bits = 32)
    },
    "q_dup_spans" -> q { (s, dir) =>
      // substring-level dedup: merged cross-document duplicated 5-token spans
      Fixtures.documentDupSpans(s, dir)
    },
    "q_dup_span_strip" -> q { (s, dir) =>
      // the removal pass rides the session-shared span table — one mining
      // pass serves both span queries
      pipeline.Dedup.removeDuplicateSpansFrom(
        Fixtures.documents(s, dir), Fixtures.documentDupSpans(s, dir))
    },
    "q_embed_dup" -> q { (s, dir) =>
      // planes = 0: exact all-pairs — the oracle path (quadratic, fixture only)
      pipeline.Dedup.embeddingDupPairs(Fixtures.embeddings(s, dir), threshold = 0.4, planes = 0)
    },
    "q_embed_dup_lsh" -> q { (s, dir) =>
      // the API-default scale path: hyperplane-LSH bucketing, exact within bucket
      pipeline.Dedup.embeddingDupPairs(Fixtures.embeddings(s, dir), threshold = 0.4, planes = 4)
    },
    "q_ann_topk" -> q { (s, dir) =>
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    },
    "q_ann_ivf" -> q { (s, dir) =>
      // approximate (recall < 1) but fully deterministic: seeded k-means
      // init, argmax-dot assignment with cid tie-break, avg updates — the
      // DuckDB oracle unrolls the identical pipeline (PipelineSql.annIvf)
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    },
    "q_knn_graph" -> q { (s, dir) =>
      // corpus→corpus k-NN graph: IVF cell-bucketed exact-cosine top-k
      // (the scale shape for billion-vector similarity graphs — centroid
      // broadcast + cell equi-join, never an all-pairs self-join); the
      // DuckDB oracle unrolls the identical deterministic pipeline
      Fixtures.knnEdges(s, dir)
    },
    "q_knn_components" -> q { (s, dir) =>
      // the composition the knn graph exists for: semantic clusters =
      // connected components OVER the similarity graph (SemDeDup's
      // cluster-then-prune shape) — the pipeline half hands an edge list
      // to the graph half in one line. Oracle: k-means + knn unroll, then
      // 12 unrolled min-label rounds (idempotent past fixpoint).
      val knn = Fixtures.knnEdges(s, dir)
      val g = graft.core.PropertyGraph(
        Fixtures.embeddings(s, dir).select(col("vec_id").as(ID)),
        Structure.symmetrize(knn.select(col("vec_id").as(SRC), col("neighbor_id").as(DST))),
        graft.core.GraphProperties(directed = false))
      val (labels, rounds) = Components.wccWithRounds(g)
      require(rounds <= 12, s"knn-component propagation took $rounds rounds, oracle unrolls 12")
      labels.select(col(ID).as("vec_id"), col("component"))
    },
    "q_incremental_dedup" -> q { (s, dir) =>
      // nightly-ingest shape: even doc_ids are the standing corpus, odd
      // doc_ids the incoming batch
      val docs = Fixtures.documents(s, dir)
      pipeline.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    },
    "q_decontaminate" -> q { (s, dir) =>
      // benchmark-hygiene shape: every 37th doc plays the held-out eval
      // set; the strict any-hit 5-gram rule flags the corpus docs that
      // share a span with one (the fixture's near-dup clusters)
      val docs = Fixtures.documents(s, dir)
      pipeline.Dedup.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0), docs.filter(col("doc_id") % 37 === 0),
        n = 5)
    },
    "q_embed_dup_ivf" -> q { (s, dir) =>
      // SemDeDup shape: deterministic k-means buckets, exact cosine within
      pipeline.Dedup.embeddingDupPairsIvf(Fixtures.embeddings(s, dir),
        threshold = 0.4, nlist = 16, iters = 3)
    },
    "q_ann_pq" -> q { (s, dir) =>
      // product-quantization ADC: 4-bit-per-subspace codes, broadcast
      // lookup-table scoring — the memory-compressed scale path
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    },
    "q_ann_ivfpq" -> q { (s, dir) =>
      // the composed billion-vector index (FAISS IVFPQ shape): coarse-cell
      // prefilter + residual-PQ ADC scoring within probed cells — both
      // scale levers in one operator; oracle unrolls the full pipeline
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    },
    "q_mmr_select" -> q { (s, dir) =>
      // greedy maximal-marginal-relevance: k relevant-but-diverse picks
      // for one query vector; k scan+argmax rounds, maxsim carried as a
      // corpus column (no per-round join) — oracle unrolls all k rounds
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.mmrSelect(emb, emb.filter(col("vec_id") === 0), k = 4)
    },
    "q_dedup_clusters" -> q { (s, dir) =>
      // near-dup pairs → duplicate clusters via WCC over the pair graph;
      // the cluster table is the session-shared kernel
      // (Fixtures.documentDupClusters) — this first toucher pays the pair
      // mining + WCC, q_dedup_keep_best composes on the same table
      Fixtures.documentDupClusters(s, dir)
    },
    "q_dedup_keep_best" -> q { (s, dir) =>
      // canonical selection after clustering: keep the longest member of
      // each duplicate cluster (ties → lowest id) — the final step of a
      // production dedup pass, composed on the shared cluster kernel
      pipeline.Dedup.keepBest(Fixtures.documents(s, dir),
        Fixtures.documentDupClusters(s, dir))
    },
    "q_scrub" -> q { (s, dir) =>
      pipeline.TextAnalysis.scrubPii(Fixtures.documents(s, dir))
    },
    "q_split" -> q { (s, dir) =>
      pipeline.TextAnalysis.trainValSplit(Fixtures.documents(s, dir), valPct = 5)
    },
    "q_source_cap" -> q { (s, dir) =>
      // per-domain cap: at most 10 docs per source, hash-priority pick
      pipeline.TextAnalysis.sourceCap(Fixtures.documents(s, dir), maxPerKey = 10)
    },
    "q_stratified" -> q { (s, dir) =>
      // corpus mixing weights by language (ppm): en 50%, fr/es 25%,
      // de 12.5%, default (zh) 10%
      pipeline.TextAnalysis.stratifiedSample(Fixtures.documents(s, dir),
        ratesPpm = Map("en" -> 500000L, "fr" -> 250000L, "es" -> 250000L,
          "de" -> 125000L), defaultPpm = 100000L)
    },
    "q_pack" -> q { (s, dir) =>
      // concat-then-chunk packing into 2048-token contexts, 8 packer buckets
      pipeline.TextAnalysis.packChunks(Fixtures.documents(s, dir), budget = 2048L)
    },
    "q_shard" -> q { (s, dir) =>
      // deterministic global shuffle into 8 training shards
      pipeline.TextAnalysis.shardAssign(Fixtures.documents(s, dir), nShards = 8)
    },
    "q_length_batches" -> q { (s, dir) =>
      // padding-minimizing batch formation: digit-count length buckets,
      // batches of 16 within each
      pipeline.TextAnalysis.lengthBatches(Fixtures.documents(s, dir), batchSize = 16)
    },
    "q_manifest" -> q { (s, dir) =>
      // shard-writer integrity manifest: per-shard doc/token totals + an
      // order-insensitive bit_xor placement checksum
      pipeline.TextAnalysis.shardManifest(Fixtures.documents(s, dir), nShards = 8)
    },
    "q_dsir" -> q { (s, dir) =>
      // DSIR importance weights: unigram log-likelihood ratio of the
      // English slice vs the raw corpus, thresholded selection
      pipeline.TextAnalysis.dsirWeights(Fixtures.documents(s, dir), targetLang = "en")
    },
    "q_fertility" -> q { (s, dir) =>
      // tokenizer fertility per language from the trained BPE merges
      pipeline.Tokenizer.fertility(Fixtures.documents(s, dir),
        Fixtures.bpeMerges(s, dir))
    },
    "q_token_count" -> q { (s, dir) =>
      pipeline.TextAnalysis.tokenCounts(Fixtures.documents(s, dir))
    },
    "q_gopher_rules" -> q { (s, dir) =>
      // the published Gopher hard-filter battery with per-rule verdicts
      // required-stopword list adapted to the synthetic corpus vocabulary
      // (the paper's English list is the function default)
      pipeline.TextAnalysis.gopherRules(Fixtures.documents(s, dir), minWords = 50,
        stopWords = Seq("the", "a"), minStopHits = 2)
    },
    "q_sessionize" -> q { (s, dir) =>
      // gaps-and-islands sessionization of the events stream: 4-hour gap,
      // per-user windows, session-level rollup
      pipeline.Events.sessionStats(Tables(s, dir, "events"), gapSeconds = 14400L)
    },
    "q_funnel" -> q { (s, dir) =>
      // strict-order funnel view → click → purchase: chained user-keyed
      // conditional min aggregations, no per-user sort
      pipeline.Events.funnel(Tables(s, dir, "events"),
        steps = Seq("view", "click", "purchase"))
    },
    "q_retention" -> q { (s, dir) =>
      // weekly retention cohorts over first-activity week
      pipeline.Events.retention(Tables(s, dir, "events"))
    },
    "q_writer_e2e" -> q { (s, dir) =>
      // the corpus-WRITING story composed end-to-end (complement of
      // q_pipeline_e2e's filter path): exact-dedup canonical survivors →
      // Gopher hard filter → deterministic shard placement → per-shard
      // integrity manifest. Every stage is the already-gated operator; the
      // composition is what a shard writer runs before publishing.
      val docs = Fixtures.documents(s, dir)
      val canon = pipeline.Dedup.exact(docs)
        .filter(col("is_canonical")).select("doc_id")
      val kept = pipeline.TextAnalysis.gopherRules(docs, minWords = 50,
          stopWords = Seq("the", "a"), minStopHits = 2)
        .filter(col("keep")).select("doc_id")
      val sel = docs.join(canon, "doc_id").join(kept, Seq("doc_id"), "left_semi")
      pipeline.TextAnalysis.shardManifest(sel, nShards = 4)
    },
    "q_quality" -> q { (s, dir) =>
      pipeline.TextAnalysis.qualityScore(Fixtures.documents(s, dir))
    },
    "q_langid" -> q { (s, dir) =>
      pipeline.TextAnalysis.languageId(Fixtures.documents(s, dir))
    },
    "q_nb_classify" -> q { (s, dir) =>
      // trainable curation filter: multinomial NB trained on the labeled
      // half (even doc_ids), argmax-scored over the full corpus
      pipeline.Classifier.nbTrainScore(Fixtures.documents(s, dir),
        trainFilter = col("doc_id") % 2 === 0, labelCol = "lang")
    },
    "q_lr_classify" -> q { (s, dir) =>
      // embedding-side linear probe: logistic regression by full-batch GD,
      // trained on the even half against a teacher direction (the first
      // vector by id — margins are ≥5e-5 at every SF, far above float
      // noise), scored over the whole table. Holdout floor guards against
      // a silently-broken gradient (a wrong sign or scale lands at ~0.5).
      val emb = Fixtures.embeddings(s, dir)
      val u = emb.orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).first().getSeq[Double](0)
      val res = pipeline.Classifier.lrTrainScore(emb,
        trainFilter = col("vec_id") % 2 === 0,
        target = graft.pipeline.TextOps.dot(
          col("embedding").cast("array<double>"), typedlit(u)) > 0,
        boundaryGuard = 1e-9).mat
      val acc = res.join(emb.select(col("vec_id"),
          (graft.pipeline.TextOps.dot(col("embedding").cast("array<double>"),
            typedlit(u)) > 0).cast("long").as("y")), "vec_id")
        .filter(col("vec_id") % 2 === 1)
        .agg(avg((col("pred") === col("y")).cast("double"))).first().getDouble(0)
      require(acc >= 0.75, s"lr probe holdout accuracy $acc below floor 0.75")
      res
    },
    "q_fingerprint" -> q { (s, dir) =>
      pipeline.TextAnalysis.fingerprints(Fixtures.documents(s, dir), n = 5, w = 4)
    },
    "q_chunk" -> q { (s, dir) =>
      // RAG/embedding chunking: 32-token windows every 24 tokens (8-token
      // overlap) — pure per-row generate+project, single scan stage
      pipeline.TextAnalysis.chunkDocs(Fixtures.documents(s, dir),
        window = 32, stride = 24)
    },
    "q_contamination" -> q { (s, dir) =>
      // eval-leakage filter: every 97th document plays the benchmark set
      val docs = Fixtures.documents(s, dir)
      pipeline.TextAnalysis.contamination(docs,
        docs.filter(col("doc_id") % 97 === 0), n = 4)
    },
    "q_repetition" -> q { (s, dir) =>
      pipeline.TextAnalysis.repetitionRatio(Fixtures.documents(s, dir), n = 3)
    },
    "q_vocab" -> q { (s, dir) =>
      // global word-frequency table, top-100 by occurrences
      pipeline.TextAnalysis.vocab(Fixtures.documents(s, dir), topK = 100)
    },
    "q_tfidf" -> q { (s, dir) =>
      // top-3 TF-IDF keywords per document
      pipeline.TextAnalysis.tfidfTopTerms(Fixtures.documents(s, dir), k = 3)
    },
    "q_quality_filter" -> q { (s, dir) =>
      // adaptive per-source quality cut: keep the upper half of each source
      pipeline.TextAnalysis.qualityFilter(Fixtures.documents(s, dir), minPct = 0.5)
    },
    "q_curriculum" -> q { (s, dir) =>
      // easy->hard curriculum phases, stratified by source
      pipeline.TextAnalysis.curriculum(Fixtures.documents(s, dir), phases = 4)
    },
    "q_cluster_sample" -> q { (s, dir) =>
      // diversity sampling: 8 hash-priority docs per k-means cluster
      pipeline.Ann.clusterSample(Fixtures.embeddings(s, dir),
        nlist = 16, perCluster = 8, iters = 3)
    },
    "q_knn_classify" -> q { (s, dir) =>
      // weak labeling: 10-NN majority vote for the first 25 vectors
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.knnClassify(emb, emb.filter(col("vec_id") < 25), k = 10)
    },
    "q_entropy" -> q { (s, dir) =>
      // token-distribution entropy: the information-density quality signal
      pipeline.TextAnalysis.tokenEntropy(Fixtures.documents(s, dir))
    },
    "q_pmi" -> q { (s, dir) =>
      // collocation mining: top-50 PMI skip-gram pairs, 2-token window
      pipeline.TextAnalysis.pmiPairs(Fixtures.documents(s, dir),
        window = 2, minCount = 5, topK = 50)
    },
    "q_lm_score" -> q { (s, dir) =>
      // corpus-trained bigram-LM quality filter (KenLM/CCNet shape)
      pipeline.TextAnalysis.bigramLmScore(Fixtures.documents(s, dir), k = 0.5)
    },
    "q_hard_negatives" -> q { (s, dir) =>
      // contrastive-training negatives: most-similar label-mismatched
      val emb = Fixtures.embeddings(s, dir)
      pipeline.Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 10)
    },
    "q_bpe_train" -> q { (s, dir) =>
      // BPE tokenizer training: first 5 learned merges + their frequencies
      Fixtures.bpeMerges(s, dir)
    },
    "q_edit_dist" -> q { (s, dir) =>
      // near-dup precision pass: Levenshtein over LSH candidate pairs only
      // (the session-shared scored-pair kernel at threshold 0.0 — same
      // rows as minhashLshPairs(threshold = 0.0))
      val docs = Fixtures.documents(s, dir)
      val cand = Fixtures.documentLshScored(s, dir).filter(col("jaccard") >= 0.0)
      pipeline.Dedup.editDistancePairs(docs, cand.select("id_a", "id_b"))
    },
    "q_source_stats" -> q { (s, dir) =>
      // per-source corpus datasheet: volume, quality, exact median length
      pipeline.TextAnalysis.sourceStats(Fixtures.documents(s, dir))
    },
    "q_cross_source_dup" -> q { (s, dir) =>
      // provenance diagnostic: shared 8-grams across source pairs
      pipeline.TextAnalysis.crossSourceDup(Fixtures.documents(s, dir), n = 8)
    },
    "q_bpe_tokens" -> q { (s, dir) =>
      // apply the learned merges: post-BPE subword counts per document
      pipeline.Tokenizer.bpeTokenCount(Fixtures.documents(s, dir),
        Fixtures.bpeMerges(s, dir))
    },
    "q_pipeline_e2e" -> q { (s, dir) =>
      // the COMPOSED training-data story, one gated query: exact-dedup
      // canonical survivors → quality floor → drop the benchmark subset
      // and anything its n-grams contaminate → deterministic train/val
      // split. Each stage is the already-gated operator; the composition
      // is what a 100 TB corpus actually runs nightly.
      val docs = Fixtures.documents(s, dir)
      val canon = pipeline.Dedup.exact(docs)
        .filter(col("is_canonical")).select("doc_id")
      val good = pipeline.TextAnalysis.qualityScore(docs)
        .filter(col("quality") >= 0.5).select("doc_id")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val contaminated = pipeline.TextAnalysis.contamination(docs, bench, n = 4)
        .select("doc_id")
      val kept = canon.join(good, "doc_id")
        .filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      pipeline.TextAnalysis.trainValSplit(docs.join(kept, "doc_id"), valPct = 5)
    },
    "q_curation_e2e" -> q { (s, dir) =>
      // the COMPOSED curation pipeline, one gate (VERDICT r10 item #8):
      // LSH near-dup mining → WCC cluster resolve → keep-longest →
      // SemDeDup on the SURVIVORS' embeddings (k-means trained on the
      // filtered set) → keep canonical → cluster-balanced diversity sample
      // (k-means re-trained on the twice-deduped set) → shard placement +
      // integrity manifest. Every stage is an already-gated operator; this
      // gate pins their INTERACTIONS — id plumbing, survivor filtering,
      // retrain-on-filtered determinism — and the manifest's bit_xor
      // checksums flip on any single wrong survivor anywhere upstream.
      val docs = Fixtures.documents(s, dir)
      val emb = Fixtures.embeddings(s, dir)
      // the LSH cluster table is the session-shared kernel
      // (Fixtures.documentDupClusters — identical params; q_dedup_clusters
      // pays it), and each downstream stage's input is materialized ONCE
      // before the stage trains on it (r11-opt: embeddingDupPairsIvf /
      // clusterSample each checkpoint their input internally for the
      // quantizer AND the assignment pass — a lazy join there ran twice)
      val clusters = Fixtures.documentDupClusters(s, dir)
      val kept1 = pipeline.Dedup.keepBest(docs, clusters)
        .select(col("kept_id").as("vec_id"))
      val embKept = graft.prims.Iterate.materialize(emb.join(kept1, "vec_id"))
      val sem = pipeline.Dedup.embeddingDupPairsIvf(embKept,
        threshold = 0.4, nlist = 16, iters = 3)
      val kept2 = pipeline.Dedup.resolveClusters(
          embKept.select("vec_id"), sem.select("id_a", "id_b"), idCol = "vec_id")
        .filter(col("is_canonical")).select("vec_id")
      val sampled = pipeline.Ann.clusterSample(
        graft.prims.Iterate.materialize(emb.join(kept2, "vec_id")),
        nlist = 16, perCluster = 8, iters = 3)
      pipeline.TextAnalysis.shardManifest(
        docs.join(sampled.select(col("vec_id").as("doc_id")), "doc_id"), nShards = 4)
    },
    "q_media_meta" -> q { (s, dir) =>
      pipeline.Multimodal.mediaMeta(pipeline.Multimodal.asMedia(Fixtures.documents(s, dir)))
    },
    "q_media_decode" -> q { (s, dir) =>
      implicit val sp: SparkSession = s
      pipeline.Multimodal.decodeStub(pipeline.Multimodal.asMedia(Fixtures.documents(s, dir)))
        .toDF()
        .select(col("doc_id"), posexplode(col("feat")).as(Seq("bin", "ratio")))
        .select(col("doc_id"), col("bin").cast("long").as("bin"), round(col("ratio"), 6).as("ratio"))
    },
    "q_frame_sample" -> q { (s, dir) =>
      pipeline.Multimodal.frameSample(
        pipeline.Multimodal.asMedia(Fixtures.documents(s, dir)), frameBytes = 64, stride = 4)
    },
    "q_media_dims" -> q { (s, dir) =>
      // REAL header decode: the fixture wraps each doc in a byte-exact
      // PNG/JPEG container (variable-length JPEG segments), the parser
      // walks the bytes; the oracle recomputes expected dims from doc_id
      // (the generator's formulas) without ever seeing the binary — a
      // wrong offset/endianness/segment-skip shows up as a value mismatch
      pipeline.Multimodal.mediaDims(
        pipeline.Multimodal.asBinaryMedia(Fixtures.documents(s, dir)))
    },
    "q_audio_meta" -> q { (s, dir) =>
      // REAL audio-header decode, same contract as q_media_dims for the
      // audio modality: the fixture wraps each doc in a byte-exact RIFF/
      // WAVE container (variable-length odd-sized LIST chunk exercising
      // RIFF even-padding), the parser walks the chunks; the oracle
      // recomputes channels/rate/bits/frames from doc_id + octet_length
      // without ever seeing the binary.
      pipeline.Multimodal.audioMeta(
        pipeline.Multimodal.asBinaryAudio(Fixtures.documents(s, dir)))
    },
    "q_media_pixels" -> q { (s, dir) =>
      // REAL pixel decode (closes the r8 header-vs-pixel gap): the fixture
      // wraps each doc as an uncompressed netpbm raster (P6 RGB / P5 gray —
      // ASCII header + raw sample bytes, the one image family whose pixels
      // need no codec), the decoder parses the variable-digit header and
      // folds the raster region into exact per-channel byte sums; the
      // oracle recomputes width/height/sums from doc_id (the generator's
      // gradient formula) without ever seeing the binary.
      pipeline.Multimodal.rasterPixels(
        pipeline.Multimodal.asBinaryRaster(Fixtures.documents(s, dir)))
    },
    // ---- sources / interop (§2.1) ----
    "q_from_adjlist" -> q { (s, dir) =>
      // adjacency-list round trip: COO → per-vertex neighbor lists → COO
      val e = Fixtures.supplierEdges(s, dir)
      val adj = sources.Convert.toAdjList(e)
        .select(col(ID), col("nbrs.dst").as("ns"), col("nbrs.weight").as("ws"))
      sources.Convert.fromAdjList(adj, idCol = ID, nbrsCol = "ns", wCol = Some("ws"))
    },
    "q_from_dense" -> q { (s, dir) =>
      // dense-adjacency round trip (from_pandas_adjacency / numpy): build
      // the dense rows from the undirected supplier graph, convert back to
      // COO through fromDense, land exactly on the symmetrized edge list.
      // The dense rows come from a (vertex × position) grid left-join +
      // ordered collect — NOT element_at on a per-row map, whose MapData
      // lookup is a linear scan (O(positions × degree) per row turned a
      // 16 MB fixture build into ~30s of CPU)
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val maxId = und.agg(greatest(max(SRC), max(DST))).first().getLong(0)
      val grid = und.select(col(SRC).as("id")).distinct()
        .crossJoin(s.range(maxId + 1).select(col("id").as("j")))
        .join(und.select(col(SRC).as("id"), col(DST).as("j"), col(WEIGHT).as("w")),
          Seq("id", "j"), "left")
      val dense = grid.groupBy("id")
        .agg(transform(sort_array(collect_list(struct(col("j"),
          coalesce(col("w"), lit(0.0)).as("w")))), e => e.getField("w")).as("row"))
      sources.Convert.fromDense(dense)
    },
    "q_to_dense" -> q { (s, dir) =>
      // dense EXPORT round trip (to_pandas_adjacency → from_numpy_array):
      // COO → dense rank-indexed rows → COO, ranks mapped back to vertex
      // ids — must land exactly on the symmetrized supplier edge list
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val coo = sources.Convert.fromDense(sources.Convert.toDense(und))
      val idx = sources.Convert.vertexRanks(und)
      coo.join(broadcast(idx), coo(DST) === idx("j"))
        .select(col(SRC), col("id").as(DST), col(WEIGHT))
    },
    "q_karate_triangles" -> q { (s, _) =>
      // curated-dataset registry + triangle kernel on the classic fixture
      val g = sources.Datasets.getGraph(s, "karate")
      Triangles.countPerVertex(g)
    },
    "q_small_line_sssp" -> q { (s, _) =>
      // the reference's bundled maximum-diameter demo path: SSSP needs a
      // full 9 relaxation rounds — the worst case for a frontier loop
      val g = sources.Datasets.getGraph(s, "small_line")
      require(g.numVertices == 10, "small_line metadata mismatch")
      val (res, rounds) = Traversal.ssspWithRounds(g, 0L)
      require(rounds <= 10, s"SSSP took $rounds rounds, oracle budget is 10")
      res.select(col(ID), round(col("distance"), 6).as("distance"))
    },
    "q_small_tree_topo" -> q { (s, _) =>
      // bundled demo DAG: topological levels = longest-path depth
      val g = sources.Datasets.getGraph(s, "small_tree")
      require(g.numVertices == 9, "small_tree metadata mismatch")
      TreeDag.topologicalLevels(g)
        .select(col(ID), col("level").cast("long").as("level"))
    },
    "q_toy_eigenvector" -> q { (s, _) =>
      // the reference's eigenvector-centrality test fixture (toy_graph,
      // both directions stored in-data)
      val g = sources.Datasets.getGraph(s, "toy_graph")
      require(g.numVertices == 6 && g.numEdges == 16, "toy_graph metadata mismatch")
      Centrality.eigenvector(g, maxIter = 10, tol = -1.0)
        .select(col(ID), round(col("ec"), 6).as("ec"))
    },
    "q_karate_asym_pagerank" -> q { (s, _) =>
      // one-direction karate storage: canonical a<b edges leave the
      // highest-id vertices dangling — the dangling-mass branch on a
      // curated dataset, symmetrize OFF (reference karate_asymmetric)
      val g = sources.Datasets.getGraph(s, "karate-asymmetric")
      require(g.numVertices == 34 && g.numEdges == 78,
        "karate-asymmetric metadata mismatch")
      PageRank.run(g, tol = -1.0, maxIter = 10, weighted = true)
        .select(col(ID), round(col("pagerank"), 6).as("pagerank"))
    },
    "q_dolphins_jaccard" -> q { (s, _) =>
      // second curated dataset (Lusseau dolphins): global top-20 Jaccard
      val g = sources.Datasets.getGraph(s, "dolphins")
      require(g.numVertices == 62 && g.numEdges == 2 * 159,
        "dolphins metadata mismatch")
      Similarity.allPairs(g, Similarity.Jaccard, topK = Some(20))
        .select(col(SRC), col(DST), round(col("jaccard_coeff"), 6).as("jaccard_coeff"))
    },
    "q_polbooks_triangles" -> q { (s, _) =>
      // third curated dataset (Krebs political books): per-vertex triangles
      val g = sources.Datasets.getGraph(s, "polbooks")
      require(g.numVertices == 105 && g.numEdges == 2 * 441,
        "polbooks metadata mismatch")
      Triangles.countPerVertex(g)
    },
    "q_karate_disjoint_wcc" -> q { (s, _) =>
      // the reference's DEFAULT_DATASETS multi-component fixture: WCC must
      // find exactly the two karate copies (components rooted at 0 and 34)
      val g = sources.Datasets.getGraph(s, "karate-disjoint")
      require(g.numVertices == 68, "karate-disjoint metadata mismatch")
      val (labels, rounds) = Components.wccWithRounds(g)
      require(rounds <= 8, s"karate-disjoint WCC took $rounds rounds, oracle unrolls 8")
      labels
    },
    "q_netscience_wcc" -> q { (s, _) =>
      // weighted curated dataset (Newman coauthorship): component labels.
      // netscience is famously disconnected (hundreds of components);
      // the oracle unrolls 25 min-label rounds, so assert convergence fits.
      val g = sources.Datasets.getGraph(s, "netscience")
      require(g.numVertices == 1461 && g.isWeighted, "netscience metadata mismatch")
      val (labels, rounds) = Components.wccWithRounds(g)
      require(rounds <= 25, s"netscience WCC took $rounds rounds, oracle unrolls 25")
      labels
    },
    // ---- MIS / coloring / matching / LAP / layout / spectral / lookup ----
    "q_mis" -> q { (s, dir) =>
      val (m, rounds) = Misc.misWithRounds(Fixtures.hierarchyDag(s, dir))
      require(rounds <= 6, s"MIS took $rounds rounds, oracle budget is 6")
      m
    },
    "q_coloring" -> q { (s, dir) =>
      val g = Fixtures.hierarchyDag(s, dir)
      val (colors0, nColors, misRounds) = Misc.vertexColoringWithStats(g)
      require(nColors <= 5, s"coloring used $nColors colors, oracle budget is 5")
      require(misRounds <= 6, s"MIS took $misRounds rounds, oracle budget is 6")
      val colors = colors0.mat
      // self-checking: a proper coloring has no monochromatic edge
      val und = Structure.symmetrize(g.edges.select(SRC, DST))
      val bad = und
        .join(colors.select(col(ID).as(SRC), col("color").as("ca")), SRC)
        .join(colors.select(col(ID).as(DST), col("color").as("cb")), DST)
        .filter(col("ca") === col("cb")).count()
      require(bad == 0, s"improper coloring: $bad monochromatic edges")
      colors
    },
    "q_coloring_fast" -> q { (s, dir) =>
      // speculative hash-init + conflict repair — the scale-viable coloring
      // strategy alongside the reference-structure repeated-MIS loop
      val g = Fixtures.hierarchyDag(s, dir)
      val (colors0, nColors, repairRounds) =
        Misc.fastColoringWithStats(g, seed = 42, initColors = 4)
      require(repairRounds <= 8, s"repair took $repairRounds rounds, oracle unrolls 8")
      // the doubled candidate range (the r11 dense-core convergence fix)
      // trades a few extra colors for geometric conflict decay: 8 on this
      // fixture vs the narrow range's 6
      require(nColors <= 10, s"fast coloring used $nColors colors (sanity bound 10)")
      val colors = colors0.mat
      // self-checking: a proper coloring has no monochromatic edge
      val und = Structure.symmetrize(g.edges.select(SRC, DST))
      val bad = und
        .join(colors.select(col(ID).as(SRC), col("color").as("ca")), SRC)
        .join(colors.select(col(ID).as(DST), col("color").as("cb")), DST)
        .filter(col("ca") === col("cb")).count()
      require(bad == 0, s"improper fast coloring: $bad monochromatic edges")
      colors
    },
    "q_matching" -> q { (s, dir) =>
      Misc.weightedMatching(Fixtures.supplierGraph(s, dir), rounds = 3)
    },
    "q_assignment" -> q { (s, dir) =>
      val e = Fixtures.custSuppEdges(s, dir)
      val custs = e.select(SRC).distinct().orderBy(SRC).limit(8).collect().map(_.getLong(0))
      val supps = e.select(DST).distinct().orderBy(DST).limit(8).collect().map(_.getLong(0))
      // integer cents: exact in double, so cost sums and comparisons are
      // bit-identical across engines (no float-sum order sensitivity)
      val wmap = e.filter(col(SRC).isin(custs.toIndexedSeq: _*) &&
          col(DST).isin(supps.toIndexedSeq: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          math.round(r.getDouble(2) * 100).toDouble).toMap
      // maximize matched weight = minimize negated costs (driver-side LAP)
      val cost = custs.map(c => supps.map(p => -wmap.getOrElse((c, p), 0.0)))
      val asg = Misc.assignment(cost)
      val total = (p: IndexedSeq[Int]) => p.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum
      // oracle-deterministic optimum: among all 8! permutations take min by
      // (cost, lexicographic supplier sequence), and assert the DP agrees on
      // the optimal value — the gate then gates both paths.
      val best = {
        import scala.math.Ordering.Implicits._
        (0 until 8).permutations.map(_.toIndexedSeq).minBy(p =>
          (total(p), p.map(supps).toList))
      }
      require(total(asg.toIndexedSeq) == total(best),
        s"DP LAP cost ${total(asg.toIndexedSeq)} != enumerated optimum ${total(best)}")
      import s.implicits._
      best.zipWithIndex.map { case (j, i) => (custs(i), supps(j)) }
        .toSeq.toDF("customer", "supplier")
    },
    "q_assignment_auction" -> q { (s, dir) =>
      // the DISTRIBUTED LAP path (Bertsekas auction) on the same 8×8
      // fixture: WHOLE-DOLLAR values (price-war rounds scale with value
      // gaps, see auctionAssignment doc) pre-scaled ×(n+1)=9 so ε=1
      // yields the exact optimum; the gate compares the achieved total
      // (unique even when the arg-assignment is not) against the 8!
      // enumeration's optimum in the same units
      val e = Fixtures.custSuppEdges(s, dir)
      val c8 = e.select(SRC).distinct().orderBy(SRC).limit(8)
      val s8 = e.select(DST).distinct().orderBy(DST).limit(8)
      val dense = c8.crossJoin(s8).join(e, Seq(SRC, DST), "left")
        .select(col(SRC).as("i"), col(DST).as("j"),
          (coalesce(round(col(WEIGHT)), lit(0)).cast("long") * 9).as("v"))
      val (asg, rounds) = Misc.auctionAssignment(dense)
      require(rounds < 500, s"auction took $rounds rounds")
      asg.join(dense, Seq("i", "j"))
        .agg((sum(col("v")) / 9).cast("long").as("total_dollars"))
    },
    "q_multigraph" -> q { (s, dir) =>
      // MultiGraph class surface (reference graph_classes.py:837): one edge
      // per LINEITEM row, so a cust→supp pair ordered repeatedly yields
      // genuine parallel edges that must SURVIVE construction. The gate
      // checks multiplicities and that edge_seq numbers each pair 1..k.
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val raw = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 100000L).as("p"),
          col("l_extendedprice").as("w"))
      val mg = GraphClasses.multiGraphFromEdges(raw, "c", "p", Some("w"))
      require(mg.props.multiEdge && mg.isMultigraph, "multigraph tag lost")
      val densityRefused =
        try { mg.density; false } catch { case _: IllegalArgumentException => true }
      require(densityRefused, "density must be refused on a MultiGraph")
      val per = mg.edges.groupBy(SRC, DST)
        .agg(count(lit(1)).as("multiplicity"), max(col("edge_seq")).as("mx"))
      require(per.filter(col("multiplicity") =!= col("mx")).isEmpty,
        "edge_seq must number each pair 1..multiplicity")
      per.filter(col("multiplicity") >= 2).select(SRC, DST, "multiplicity")
    },
    "q_assignment_jv" -> q { (s, dir) =>
      // mid-size exact LAP (n=64 ≫ the DP's n≤20 cap): assignment()
      // dispatches to the O(n³) shortest-augmenting-path Hungarian. The
      // cost matrix cust_i·supp_j + r_i + h_j has a provably unique
      // closed-form optimum (see MiscSql.assignmentJv), so the gate pins
      // the solver's full arg-assignment, not just its total.
      val e = Fixtures.custSuppEdges(s, dir)
      val custs0 = e.groupBy(SRC).agg(round(sum(WEIGHT)).cast("long").as("r"))
        .orderBy(SRC).limit(64).collect().map(r => (r.getLong(0), r.getLong(1)))
      val supps0 = e.groupBy(DST).agg(round(sum(WEIGHT)).cast("long").as("h"))
        .orderBy(DST).limit(64).collect().map(r => (r.getLong(0), r.getLong(1)))
      // smaller fixtures (sf0.001 has ~10 suppliers) shrink n the same way
      // the oracle's rank-join truncates: cust ranks ascend from the
      // smallest, supp ranks DESCEND from the largest of the limit-64 set
      val n = math.min(custs0.length, supps0.length)
      val custs = custs0.take(n)
      val supps = supps0.sortBy(-_._1).take(n)
      require(n >= 2, "fixture must yield at least a 2x2 problem")
      val cost = Array.tabulate(n, n)((i, j) =>
        (custs(i)._1 * supps(j)._1 + custs(i)._2 + supps(j)._2).toDouble)
      val asg = Misc.assignment(cost)
      // self-check vs the rearrangement-inequality closed form: ascending
      // cust ids pair with descending supp ids (row/col constants inert)
      val sortedJ = supps.indices.sortBy(j => -supps(j)._1)
      val closedTotal = custs.indices.sortBy(i => custs(i)._1).zip(sortedJ)
        .map { case (i, j) => cost(i)(j) }.sum
      val jvTotal = asg.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum
      require(jvTotal == closedTotal,
        s"JV total $jvTotal != closed-form optimum $closedTotal")
      import s.implicits._
      asg.zipWithIndex.map { case (j, i) =>
        (custs(i)._1, supps(j)._1, cost(i)(j).toLong) }
        .toSeq.toDF("customer", "supplier", "cost")
    },
    "q_fa2_layout" -> q { (s, dir) =>
      val pos = Misc.forceAtlas2(Fixtures.supplierGraph(s, dir), iters = 3).mat
      val bad = pos.filter(isnan(col("x")) || isnan(col("y"))).count()
      require(bad == 0, s"FA2 produced $bad NaN positions")
      pos.select(col(ID), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
    },
    "q_spectral" -> q { (s, dir) =>
      // deterministic PIC (degree init) — exact gate: the full power
      // iteration + 1-D k-means is unrolled in DuckDB
      // (MiscSql.spectralPicSupplier), snapped state both sides
      val res = Spectral.balancedCut(Fixtures.supplierGraph(s, dir), k = 4).mat
      require(res.select("cluster").distinct().count() <= 4, "spectral: too many clusters")
      res
    },
    "q_spectral_mod" -> q { (s, dir) =>
      // the reference's second spectral entry point (modularity
      // maximization, algorithms.hpp:914): same machinery, hash init
      val res = Spectral.modularityMaximization(Fixtures.supplierGraph(s, dir), k = 4).mat
      require(res.select("cluster").distinct().count() <= 4, "spectral: too many clusters")
      res
    },
    "q_spectral_eigen" -> q { (s, dir) =>
      // the reference's num_eigen_vects path: p-dim spectral embedding via
      // orthogonal iteration + k-means (float eigensolver → rows+assert)
      val g = Fixtures.supplierGraph(s, dir)
      val res = Spectral.balancedCutEigen(g, k = 4, numEigenVects = 4).mat
      require(res.select("cluster").distinct().count() <= 4, "spectral: too many clusters")
      require(res.count() == g.vertices.count(), "spectral: lost vertices")
      res
    },
    "q_edge_lookup" -> q { (s, dir) =>
      val table = graft.core.Lookup.edgeIdTable(Fixtures.supplierEdges(s, dir)).mat
      val ids = table.filter(col(EDGE_ID) % 7 === 0).select(EDGE_ID, EDGE_TYPE)
      graft.core.Lookup.lookupEdges(table, ids)
    },
    "q_graph_summary" -> q { (s, dir) =>
      graft.core.Lookup.graphSummary(Fixtures.supplierEdges(s, dir))
    },
    // ---- generators (§2.8) ----
    "q_rmat" -> q { (s, _) =>
      gen.Generators.rmat(s, scale = 8, numEdges = 1024)
    },
    "q_rmat_scrambled" -> q { (s, _) =>
      gen.Generators.scrambleVertexIds(
        gen.Generators.rmat(s, scale = 8, numEdges = 1024), scale = 8)
    },
    "q_erdos_renyi" -> q { (s, _) =>
      gen.Generators.erdosRenyi(s, n = 100, p = 0.05)
    },
    "q_gen_path" -> q { (s, _) => gen.Generators.pathGraph(s, 100) },
    "q_gen_mesh3d" -> q { (s, _) =>
      // base offset exercised too (the reference composes mesh components
      // at distinct base ids)
      gen.Generators.mesh3d(s, 4, 3, 5, base = 10)
    },
    "q_rmat_bipartite" -> q { (s, _) =>
      gen.Generators.bipartiteRmat(s, srcScale = 8, dstScale = 5, numEdges = 512)
    },
    "q_rmat_multi" -> q { (s, _) =>
      // generate_rmat_edgelists: 3 graphs, scales drawn uniformly from
      // [4,6], 4 edges per vertex, independent seed streams
      gen.Generators.rmatMulti(s, nLists = 3, minScale = 4, maxScale = 6,
        edgeFactor = 4)
    },
    "q_wcc_star" -> q { (s, _) =>
      // large-star/small-star WCC on its worst-case input: a 4000-vertex
      // path (diameter 3999 — label propagation would need 4000 rounds);
      // the O(log² V) round bound is the whole point of the variant
      val e = gen.Generators.pathGraph(s, 4000)
      val g = graft.core.PropertyGraph(Structure.extractVertexList(e), e,
        graft.core.GraphProperties(directed = false))
      val (labels, rounds) = Components.wccStar(g)
      require(rounds <= 20, s"wccStar took $rounds rounds on a path graph")
      labels
    },
    "q_gen_grid" -> q { (s, _) => gen.Generators.grid2d(s, 10, 10) },
    "q_gen_complete" -> q { (s, _) => gen.Generators.complete(s, 30) },
    // ---- sampling & random walks (§2.7) ----
    "q_uniform_walks" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val starts = Fixtures.seedVertices(s, dir, 5)
        .select(col(ID).as("walk_id"), col(ID).as("vertex"))
      sampling.Walks.uniform(und, starts, maxDepth = 4)
    },
    "q_biased_walks" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val starts = Fixtures.seedVertices(s, dir, 5)
        .select(col(ID).as("walk_id"), col(ID).as("vertex"))
      sampling.Walks.biased(und, starts, maxDepth = 4)
    },
    "q_node2vec" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val starts = Fixtures.seedVertices(s, dir, 5)
        .select(col(ID).as("walk_id"), col(ID).as("vertex"))
      sampling.Walks.node2vec(und, starts, maxDepth = 3, p = 1.0, q = 2.0)
    },
    "q_walks_padded" -> q { (s, dir) =>
      // DAG fixture: walks die at supplier leaves, exercising the -1 padding
      val dag = Fixtures.hierarchyDag(s, dir)
      val starts = dag.vertices.filter(col(ID) < 100)
        .select(col(ID).as("walk_id"), col(ID).as("vertex"))
      sampling.Walks.padded(
          sampling.Walks.uniform(dag.edges, starts, maxDepth = 4), maxDepth = 4)
        .select(col("walk_id"), concat_ws(",", col("path").cast("array<string>")).as("path"))
    },
    "q_neighbor_sample" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2))
    },
    "q_neighbor_biased" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.homogeneousBiased(und, seeds, fanouts = Seq(2, 2))
    },
    "q_hetero_sample" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("edge_type", ((col(SRC) + col(DST)) % 2).cast("int"))
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.heterogeneous(und, seeds,
        fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)))
    },
    "q_temporal_sample" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", col(WEIGHT).cast("long"))
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.temporal(und, seeds, fanouts = Seq(2, 2))
    },
    "q_temporal_biased" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", col(WEIGHT).cast("long"))
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.temporalBiased(und, seeds, fanouts = Seq(2, 2))
    },
    "q_temporal_windowed" -> q { (s, dir) =>
      // per-seed closed time windows (sampling_functions.hpp:421-469):
      // even seed ids get a lower bound, ids % 3 == 0 an upper bound, so
      // the fixture exercises both-bounded / one-sided / unbounded seeds;
      // t = (src + 3*dst) % 16 gives time diversity the co-order weight
      // column lacks
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", ((col(SRC) + lit(3L) * col(DST)) % 16).cast("long"))
      val seeds = Fixtures.seedVertices(s, dir, 4)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"),
          when(col(ID) % 2 === 0, lit(2L)).as("start_time"),
          when(col(ID) % 3 === 0, lit(12L)).as("end_time"))
      sampling.NeighborSampling.temporalWindowed(und, seeds, fanouts = Seq(2, 2))
    },
    "q_temporal_decreasing" -> q { (s, dir) =>
      // the STRICTLY_DECREASING walk direction: hop-0 frontier at the
      // window's upper bound, each hop strictly older than its arrival
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", ((col(SRC) + lit(3L) * col(DST)) % 16).cast("long"))
      val seeds = Fixtures.seedVertices(s, dir, 4)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"),
          when(col(ID) % 2 === 0, lit(2L)).as("start_time"),
          when(col(ID) % 3 === 0, lit(12L)).as("end_time"))
      sampling.NeighborSampling.temporalWindowed(und, seeds, fanouts = Seq(2, 2),
        decreasing = true)
    },
    "q_temporal_hetero" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", col(WEIGHT).cast("long"))
        .withColumn("edge_type", ((col(SRC) + col(DST)) % 2).cast("int"))
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.temporalHeterogeneous(und, seeds,
        fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)))
    },
    "q_temporal_hetero_biased" -> q { (s, dir) =>
      // the fourth reference temporal entry point (hpp:872): typed fanouts
      // AND weight-biased selection inside the time window
      val und = Fixtures.supplierGraphUnd(s, dir).edges
        .withColumn("t", col(WEIGHT).cast("long"))
        .withColumn("edge_type", ((col(SRC) + col(DST)) % 2).cast("int"))
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.temporalHeterogeneousBiased(und, seeds,
        fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)))
    },
    "q_negative_sample" -> q { (s, dir) =>
      // sparse bipartite graph — the dense supplier fixture would anti-join
      // every candidate away (vacuous rows=0 check)
      val e = Fixtures.custSuppEdges(s, dir)
      val verts = Structure.extractVertexList(e)
      sampling.NeighborSampling.negative(e, verts, n = 200)
    },
    "q_select_random_vertices" -> q { (s, dir) =>
      val verts = Structure.extractVertexList(Fixtures.supplierEdges(s, dir))
      sampling.NeighborSampling.selectRandomVertices(verts, k = 10)
    },
    "q_sample_renumber" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.renumberSampled(
        sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2)))
    },
    "q_sample_csr" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.compressSampled(
        sampling.NeighborSampling.renumberSampled(
          sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2))))
    },
    "q_sample_dcsr" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.compressSampledOffsets(
        sampling.NeighborSampling.renumberSampled(
          sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2))),
        srcIsMajor = true, doublyCompress = true)
    },
    "q_sample_csc" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.compressSampledOffsets(
        sampling.NeighborSampling.renumberSampled(
          sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2))),
        srcIsMajor = false, doublyCompress = false)
    },
    "q_sample_renumber_seeds" -> q { (s, dir) =>
      val und = Fixtures.supplierGraphUnd(s, dir).edges
      val seeds = Fixtures.seedVertices(s, dir, 3)
        .select(col(ID).as("batch_id"), col(ID).as("vertex"))
      sampling.NeighborSampling.renumberMapRetainSeeds(
        sampling.NeighborSampling.homogeneous(und, seeds, fanouts = Seq(2, 2)), seeds)
    },
    "q_negative_biased" -> q { (s, dir) =>
      sampling.NeighborSampling.negativeBiased(Fixtures.custSuppEdges(s, dir), n = 200)
    },
    "q_jaccard_topk" -> q { (s, dir) =>
      // per-vertex top-3 most similar (the reference's all-pairs topk)
      val scored = Similarity.scoreFrom(Fixtures.supplierSimInter(s, dir),
        Fixtures.supplierSimDeg(s, dir), Similarity.Jaccard, Fixtures.supplierSimNV(s, dir))
      graft.prims.TopK.perKey(scored, Seq(SRC),
          Seq(desc("jaccard_coeff"), col(DST)), 3)
        .select(col(SRC), col(DST), round(col("jaccard_coeff"), 6).as("jaccard_coeff"))
    },
    "q_relabel" -> q { (s, dir) =>
      // relabel vertices through an explicit old→new map (id → id + 5000)
      val e = Fixtures.supplierEdges(s, dir)
      val mapping = Structure.extractVertexList(e)
        .select(col(ID).as("old"), (col(ID) + 5000L).as("new"))
      Structure.relabel(e, mapping)
    },
    // ---- batched traversal (§2.3) ----
    "q_msbfs" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val sources = Fixtures.seedVertices(s, dir, 3).select(col(ID).as("source"))
      val res = MultiTraversal.msBfs(g, sources)
        .select(col("source"), col(ID), col("distance").cast("long").as("distance"),
          col("predecessor")).mat
      val maxDepth = res.agg(max("distance")).first().getLong(0)
      require(maxDepth <= 12, s"msBFS depth $maxDepth exceeds oracle budget 12")
      res
    },
    "q_od_distances" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val origins = Fixtures.seedVertices(s, dir, 3)
      val dests = Fixtures.seedVertices(s, dir, 5)
      val res = MultiTraversal.odShortestDistances(g, origins, dests).mat
      val maxDepth = res.agg(max("distance")).first().getLong(0)
      require(maxDepth <= 12, s"OD depth $maxDepth exceeds oracle budget 12")
      res
    },
    "q_od_weighted" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val origins = Fixtures.seedVertices(s, dir, 3)
      val dests = Fixtures.seedVertices(s, dir, 5)
      val (res, rounds) = MultiTraversal.odShortestDistancesWeighted(g, origins, dests)
      require(rounds <= 10, s"weighted OD took $rounds rounds, oracle budget is 10")
      res.select(col("origin"), col("destination"), round(col("distance"), 6).as("distance"))
    },
    "q_bfs_paths" -> q { (s, dir) =>
      val g = Fixtures.supplierGraphUnd(s, dir)
      val src = g.vertices.agg(min(ID)).first().getLong(0)
      val bfs = Traversal.bfs(g, src).mat
      val maxDepth = bfs.agg(max("distance")).first().getInt(0)
      require(maxDepth <= 12, s"BFS depth $maxDepth exceeds oracle budget 12")
      val dests = g.vertices.orderBy(desc(ID)).limit(3)
      MultiTraversal.extractBfsPaths(bfs, dests, maxDepth = 12)
    },
    // ---- community extras (§2.5) ----
    "q_leiden" -> q { (s, dir) =>
      // EXACT since r5-late: full Leiden = two-level Louvain (the
      // louvainFullPart schedule at maxIter=5) + connectivity refinement,
      // all unrolled in DuckDB (MiscSql.leidenFullSupplier). The former
      // modularity floor is superseded by bit-exact labels; the asserts
      // pin the branches the SQL unrolls (2 levels, WCC within budget).
      val g = Fixtures.supplierGraph(s, dir)
      val (labels, _, levels) = Community.louvainWithLevels(g, maxLevel = 2, maxIter = 5)
      require(levels == 2, s"oracle unrolls exactly 2 levels, ran $levels")
      val (refined, wr) = Community.leidenRefine(g, labels, "louvain")
      require(wr <= 6, s"refinement WCC took $wr rounds, oracle unrolls 6")
      refined
    },
    "q_leiden_refine" -> q { (s, dir) =>
      // EXACT Leiden gate for the refinement pass (the Leiden-specific
      // step — Louvain's move logic is pinned by q_louvain_l1/q_louvain):
      // L1 labels on the supplier graph, then WCC over intra-community
      // edges, both unrolled in DuckDB (MiscSql.leidenRefineSupplier).
      val g = Fixtures.supplierGraph(s, dir)
      val (labels, lr, _) = Fixtures.supplierLouvainL1(s, dir)
      require(lr <= 8, s"louvain level-1 took $lr rounds, oracle unrolls 8")
      val (refined, wr) = Community.leidenRefine(g, labels, "community")
      require(wr <= 6, s"refinement WCC took $wr rounds, oracle unrolls 6")
      refined
    },
    "q_ecg" -> q { (s, dir) =>
      // EXACT since r5-late: full ECG = the exact-gated ensemble votes,
      // the integral scale-invariant reweighting (Community.ecgReweight),
      // and a two-level Louvain — all unrolled in DuckDB
      // (MiscSql.ecgFullSupplier). The former modularity floor (recorded
      // 0.201 sf0.01; 0.224 with integral units) is superseded by
      // bit-exact labels; the assert pins the level branch the SQL unrolls.
      // r12: feed the reweighted votes to louvainPrepared directly — the
      // vote table is symmetric by construction (votes per direction of the
      // symmetrized ensemble edges) and self-loop-free, so the
      // louvainWithLevels re-symmetrize (fwd∪rev + groupBy min over 2E
      // rows + checkpoint) reproduced the identical row multiset at the
      // cost of one full shuffle + mat. Same entry Community.ecg uses for
      // the same reason; labels bit-identical (gate re-verified).
      val rw = Community.ecgReweight(
        Fixtures.supplierEcgVotes(s, dir), ensembleSize = 4)
      val (labels, _, levels) = Community.louvainPrepared(rw, maxLevel = 2, maxIter = 8)
      require(levels == 2, s"oracle unrolls exactly 2 levels, ran $levels")
      labels
    },
    "q_ecg_votes" -> q { (s, dir) =>
      // EXACT ECG gate: the ensemble's co-clustering vote table, full
      // batched 4-run × 5-round unroll in DuckDB (MiscSql.ecgVotesSupplier).
      // Integral perturbed weights make every sum exact — see ecgVotes.
      Fixtures.supplierEcgVotes(s, dir).filter(col(SRC) < col(DST))
    },
    "q_edge_cut" -> q { (s, dir) =>
      val labels = Tables(s, dir, "supplier")
        .select(col("s_suppkey").as(ID), col("s_nationkey").cast("long").as("c"))
      val v = Community.edgeCut(Fixtures.supplierGraph(s, dir), labels)
      s.range(1).select(round(lit(v), 6).as("edge_cut"))
    },
    "q_ratio_cut" -> q { (s, dir) =>
      val labels = Tables(s, dir, "supplier")
        .select(col("s_suppkey").as(ID), col("s_nationkey").cast("long").as("c"))
      val v = Community.ratioCut(Fixtures.supplierGraph(s, dir), labels)
      s.range(1).select(round(lit(v), 6).as("ratio_cut"))
    },
    "q_jaccard_weighted" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInterW(s, dir),
        Fixtures.supplierSimDegW(s, dir), Similarity.Jaccard, Fixtures.supplierSimNVW(s, dir))
      r.select(col(SRC), col(DST), round(col("jaccard_coeff"), 6).as("jaccard_coeff"))
    },
    // the other three use_weight=True coefficients share the same
    // materialized weighted kernel — scalar math only, like the
    // unweighted family (reference jaccard/sorensen/overlap/cosine.py
    // all take use_weight)
    "q_sorensen_weighted" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInterW(s, dir),
        Fixtures.supplierSimDegW(s, dir), Similarity.Sorensen, Fixtures.supplierSimNVW(s, dir))
      r.select(col(SRC), col(DST), round(col("sorensen_coeff"), 6).as("sorensen_coeff"))
    },
    "q_overlap_weighted" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInterW(s, dir),
        Fixtures.supplierSimDegW(s, dir), Similarity.Overlap, Fixtures.supplierSimNVW(s, dir))
      r.select(col(SRC), col(DST), round(col("overlap_coeff"), 6).as("overlap_coeff"))
    },
    "q_cosine_weighted" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInterW(s, dir),
        Fixtures.supplierSimDegW(s, dir), Similarity.Cosine, Fixtures.supplierSimNVW(s, dir))
      r.select(col(SRC), col(DST), round(col("cosine_coeff"), 6).as("cosine_coeff"))
    },
    "q_cosine_weighted_capped" -> q { (s, dir) =>
      // hub-capped weighted kernel on the repeat part co-order graph:
      // candidates mined from degree-≤4 centers only, hub contributions
      // rescored exactly — the oracle computes the full exact kernel
      // restricted to the same candidate set
      val (inter, wdeg) = Similarity.interAndDegWeightedCapped(
        Fixtures.partRepeatGraph(s, dir), maxDegree = 4)
      Similarity.scoreFrom(inter, wdeg, Similarity.Cosine)
        .select(col(SRC), col(DST), round(col("cosine_coeff"), 6).as("cosine_coeff"))
    },
    // ---- link prediction (§2.6): one shared kernel, four scorings ----
    "q_jaccard" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInter(s, dir),
        Fixtures.supplierSimDeg(s, dir), Similarity.Jaccard, Fixtures.supplierSimNV(s, dir))
      r.select(col(SRC), col(DST), round(col("jaccard_coeff"), 6).as("jaccard_coeff"))
    },
    "q_jaccard_pairs" -> q { (s, dir) =>
      // vertex_pair variant (reference jaccard.py:20): score an EXPLICIT
      // pair list — each ranked vertex with its 3rd successor, a mix of
      // adjacent and non-adjacent (zero-intersection) pairs
      val g = Fixtures.supplierGraph(s, dir)
      val ranked = Structure.extractVertexList(g.edges)
        .select(col(ID), row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(ID)).as("rn"))
      val pairs = ranked.as("x").join(ranked.as("y"), col("y.rn") === col("x.rn") + 3)
        .select(col("x." + ID).as("a"), col("y." + ID).as("b"))
      Similarity.forPairs(g, pairs, Similarity.Jaccard)
        .select(col(SRC), col(DST), round(col("jaccard_coeff"), 6).as("jaccard_coeff"))
    },
    "q_overlap" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInter(s, dir),
        Fixtures.supplierSimDeg(s, dir), Similarity.Overlap, Fixtures.supplierSimNV(s, dir))
      r.select(col(SRC), col(DST), round(col("overlap_coeff"), 6).as("overlap_coeff"))
    },
    "q_cosine" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInter(s, dir),
        Fixtures.supplierSimDeg(s, dir), Similarity.Cosine, Fixtures.supplierSimNV(s, dir))
      r.select(col(SRC), col(DST), round(col("cosine_coeff"), 6).as("cosine_coeff"))
    },
    "q_sorensen" -> q { (s, dir) =>
      val r = Similarity.scoreFrom(Fixtures.supplierSimInter(s, dir),
        Fixtures.supplierSimDeg(s, dir), Similarity.Sorensen, Fixtures.supplierSimNV(s, dir))
      r.select(col(SRC), col(DST), round(col("sorensen_coeff"), 6).as("sorensen_coeff"))
    },
    // ---- Structured Streaming gates (extension surface, SURVEY §2.9) ----
    // Each runs an ACTUAL streaming execution to completion (parquet file
    // source → Trigger.AvailableNow → memory sink) and returns the final
    // table; aggregations are order-insensitive so the result is
    // micro-batch-split-invariant and exactly gateable in DuckDB.
    "q_stream_dedup" -> q { (s, dir) =>
      // streaming twin of q_dedup_exact: stateful group-by content hash
      val stream = StreamTables(s, dir, "documents")
      graft.streaming.GraphStream.runToCompletion(
        stream.groupBy(md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n_copies"), min("doc_id").as("survivor")),
        mode = "complete")
    },
    "q_stream_window_counts" -> q { (s, dir) =>
      // watermarked tumbling-window event rollup over the events stream;
      // value steps are hundredths (inexact in binary) so sums are rounded
      // at 6 dp on both sides — accumulated double error is ~1e-12. The
      // parquet ts is NTZ; the watermark clock needs an instant — cast in
      // the session TZ (UTC), matching DuckDB's naive epoch().
      val stream = StreamTables(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      graft.streaming.GraphStream.runToCompletion(
        stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value")),
        mode = "complete")
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },
    "q_stream_lsh_candidates" -> q { (s, dir) =>
      // stateful candidate mining (flatMapGroupsWithState keyed by LSH
      // bucket + watermarked pair dedup) run as an ACTUAL streaming
      // execution: pairs surface the moment the second bucket member
      // arrives; the emitted SET is micro-batch-split-invariant and
      // canonicalized (id_a < id_b), so it gates exactly against the
      // batch band self-join.
      // The gated path is the BOUNDED-state variant you would deploy on
      // an endless corpus stream (r7 verdict item #1): pair-dedup state
      // ages out past the watermark instead of accumulating forever. The
      // synthetic event time spreads doc ids over a 2 h ingest window;
      // the 4 h delay covers the whole span, so the drained candidate set
      // still equals the batch band self-join exactly.
      // repartition before the signature projection: the streaming file
      // source yields ONE partition per file, so on the single-file
      // fixture the whole shingle+minhash compute would run in one task
      // (drain autopsy, BASELINE r8: 20.1s -> 10.7s at sf0.1). Hash by
      // doc_id into the session's shuffle-partition count — the same
      // thing a multi-file production source gets for free.
      val stream = StreamTables(s, dir, "documents")
        .repartition(col("doc_id"))
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id") % 7200))
      graft.streaming.GraphStream.withLshStreamingConfs(s) {
        graft.streaming.GraphStream.runToCompletion(
          graft.streaming.GraphStream.streamingLshCandidatesWatermarked(stream,
            n = 3, bands = 4, rowsPerBand = 2, delay = "4 hours"),
          mode = "append")
      }.select("id_a", "id_b")
    },
    "q_stream_sessions" -> q { (s, dir) =>
      // session_window sessionization as an ACTUAL streaming execution —
      // the streaming twin of q_sessionize (same 4-hour gap). Sessions
      // merge while consecutive events are < gap apart, so the result is
      // micro-batch-split-invariant; complete mode emits every session at
      // drain. The NTZ parquet ts casts to an instant in the session TZ
      // (UTC), matching DuckDB's naive epoch() — same convention as
      // q_stream_window_counts.
      val stream = StreamTables(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      graft.streaming.GraphStream.runToCompletion(
        graft.streaming.GraphStream.streamingSessionStats(stream,
          gapSeconds = 14400L),
        mode = "complete")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("session_start"),
          col("n_events"), col("sum_value"))
    },
    "q_stream_sessions_append" -> q { (s, dir) =>
      // the APPEND-mode watermarked twin of q_stream_sessions — the shape
      // you deploy on an endless event stream: sessions are emitted (and
      // their state dropped) once the watermark passes the session end,
      // instead of every open session living in the state store until
      // drain. With a 0-second delay the watermark lands on the global
      // max event time, so exactly the sessions whose end
      // (last event + gap) is <= max(ts) are emitted — the oracle applies
      // the same cutoff to the batch gaps-and-islands rollup.
      val stream = StreamTables(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      graft.streaming.GraphStream.runToCompletion(
        graft.streaming.GraphStream.streamingSessionStats(stream,
          gapSeconds = 14400L, watermark = "0 seconds"),
        mode = "append")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("session_start"),
          col("n_events"), col("sum_value"))
    },
    "q_stream_vertex_summary" -> q { (s, dir) =>
      // keyed-state path (mapGroupsWithState): per-supplier running summary
      // over the lineitem edge stream; the final state per key is the row
      // with the largest degree (degree is strictly monotone in the fold),
      // so the update-mode sink collapses deterministically even if the
      // source split into several micro-batches. l_quantity is integral —
      // every weight sum is exact.
      val stream = StreamTables(s, dir, "lineitem")
        .select(col("l_suppkey").as(SRC), col("l_partkey").as(DST),
          col("l_quantity").cast("double").as(WEIGHT))
      graft.streaming.GraphStream.runToCompletion(
        graft.streaming.GraphStream.runningVertexSummary(stream), mode = "update")
        .groupBy("id")
        .agg(max(struct(col("degree"), col("weightSum"), col("minNbr"), col("maxNbr"))).as("f"))
        .select(col("id"), col("f.degree").as("degree"),
          col("f.weightSum").as("weight_sum"),
          col("f.minNbr").as("min_nbr"), col("f.maxNbr").as("max_nbr"))
    },
  )

  import Fixtures._

  def oracleSql: Map[String, String] = Map(
    "q_degrees" ->
      s"""WITH $CUSTSUPP_EDGES_SQL,
         |verts AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges),
         |outd AS MATERIALIZED (SELECT src AS id, count(*) AS out_degree FROM cs_edges GROUP BY 1),
         |ind AS MATERIALIZED (SELECT dst AS id, count(*) AS in_degree FROM cs_edges GROUP BY 1)
         |SELECT v.id, coalesce(i.in_degree, 0) AS in_degree,
         |       coalesce(o.out_degree, 0) AS out_degree,
         |       coalesce(i.in_degree, 0) + coalesce(o.out_degree, 0) AS degree
         |FROM verts v LEFT JOIN outd o ON o.id = v.id LEFT JOIN ind i ON i.id = v.id""".stripMargin,
    "q_symmetrize" ->
      s"WITH $SUPP_EDGES_SQL SELECT src, dst, weight FROM supp_edges UNION ALL SELECT dst, src, weight FROM supp_edges",
    "q_two_hop" ->
      s"""WITH $SUPP_EDGES_SQL
         |SELECT DISTINCT a.src AS src, b.dst AS dst
         |FROM supp_edges a JOIN supp_edges b ON a.dst = b.src
         |WHERE a.src <> b.dst""".stripMargin,
    "q_two_hop_seeded" ->
      s"""WITH $SUPP_EDGES_SQL,
         |$SUPP_VERTS_SQL,
         |sds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT 3)
         |SELECT DISTINCT a.src AS src, b.dst AS dst
         |FROM supp_edges a JOIN supp_edges b ON a.dst = b.src
         |WHERE a.src <> b.dst AND a.src IN (SELECT id FROM sds)""".stripMargin,
    "q_induced_subgraph" ->
      s"""WITH $SUPP_EDGES_SQL
         |SELECT src, dst, weight FROM supp_edges
         |WHERE src % 3 = 0 AND dst % 3 = 0""".stripMargin,
    "q_khop" ->
      s"""WITH $SUPP_EDGES_SQL,
         |$SUPP_UND_SQL,
         |seed AS MATERIALIZED (SELECT min(src) AS id FROM supp_edges),
         |h1 AS MATERIALIZED (SELECT DISTINCT u.dst AS id FROM und u JOIN seed s ON u.src = s.id),
         |h2 AS MATERIALIZED (SELECT DISTINCT u.dst AS id FROM und u JOIN h1 ON u.src = h1.id)
         |SELECT id FROM seed UNION SELECT id FROM h1 UNION SELECT id FROM h2""".stripMargin,
    "q_bfs" -> OracleSql.bfsSupplier(maxDepth = 12),
    "q_sssp" -> OracleSql.ssspSupplier(rounds = 10),
    "q_bfs_edges" -> OracleSql.bfsEdgesSupplier(maxDepth = 12),
    "q_shortest_path_length" -> (OracleSql.ssspSupplier(rounds = 10) +
      "\nWHERE id = (SELECT max(id) FROM (SELECT src AS id FROM supp_edges UNION SELECT dst FROM supp_edges))"),
    "q_remove_multi" ->
      """SELECT o_custkey AS src, l_suppkey + 100000 AS dst,
        |       min(l_extendedprice) AS weight
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q_shortest_path" -> OracleSql.shortestPathSupplier(rounds = 10),
    "q_replicate" -> s"WITH $SUPP_EDGES_SQL\nSELECT src, dst, weight FROM supp_edges",
    "q_is_bipartite" -> OracleSql.isBipartiteSupplier(rounds = 16),
    "q_bicliques" -> OracleSql.bicliquesSupplier(stats = false, k = 5,
      support = 0.38, minFeatures = 1, minMachines = 100, maxIter = 20),
    "q_bicliques_stats" -> OracleSql.bicliquesSupplier(stats = true, k = 5,
      support = 0.38, minFeatures = 1, minMachines = 100, maxIter = 20),
    "q_katz" -> OracleSql.katzSupplier(iters = 10, alpha = 0.005),
    "q_eigenvector" -> OracleSql.eigenvectorSupplier(iters = 10),
    "q_hits" -> OracleSql.hitsCustSupp(iters = 4),
    "q_hits_nstart" -> OracleSql.hitsCustSupp(iters = 3, nstartOutDeg = true,
      normalized = false),
    "q_pagerank_directed" -> OracleSql.pagerankCustSupp(iters = 10),
    "q_degree_centrality" ->
      s"""WITH $CUSTSUPP_EDGES_SQL,
         |verts AS MATERIALIZED (SELECT src AS id FROM cs_edges UNION SELECT dst FROM cs_edges),
         |nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
         |outd AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM cs_edges GROUP BY 1),
         |ind AS MATERIALIZED (SELECT dst AS id, count(*) AS d FROM cs_edges GROUP BY 1)
         |SELECT v.id,
         |  round((coalesce(i.d, 0) + coalesce(o.d, 0)) / ((SELECT n FROM nv) - 1), 6) AS degree_centrality
         |FROM verts v LEFT JOIN outd o ON o.id = v.id LEFT JOIN ind i ON i.id = v.id""".stripMargin,
    "q_betweenness" -> OracleSql.betweennessSupplier(levels = 4, k = Some(32)),
    "q_betweenness_endpoints" ->
      OracleSql.betweennessSupplier(levels = 4, k = Some(32), endpoints = true),
    "q_edge_betweenness" -> OracleSql.edgeBetweennessSupplier(levels = 4, k = 16),
    "q_pagerank" -> OracleSql.pagerankSupplier(iters = 10),
    "q_ppr" -> OracleSql.pprSupplier(iters = 10, k = 5),
    "q_wcc" -> OracleSql.wccSupplier(rounds = 10),
    "q_triangles" ->
      s"""WITH $SUPP_EDGES_SQL,
         |$SUPP_VERTS_SQL,
         |tri AS MATERIALIZED (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM supp_edges e1 JOIN supp_edges e2 ON e1.dst = e2.src
         |  WHERE EXISTS (SELECT 1 FROM supp_edges e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)
         |),
         |cnt AS MATERIALIZED (
         |  SELECT id, count(*) AS triangle_count FROM (
         |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
         |  ) GROUP BY id
         |)
         |SELECT v.id, coalesce(c.triangle_count, 0) AS triangle_count
         |FROM verts v LEFT JOIN cnt c ON c.id = v.id""".stripMargin,
    "q_scc" -> OracleSql.sccSupplier,
    "q_edge_triangles" ->
      s"""WITH $SUPP_EDGES_SQL,
         |tri AS MATERIALIZED (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM supp_edges e1 JOIN supp_edges e2 ON e1.dst = e2.src
         |  WHERE EXISTS (SELECT 1 FROM supp_edges e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)
         |),
         |sup AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS s FROM (
         |    SELECT a AS src, b AS dst FROM tri
         |    UNION ALL SELECT b, c FROM tri
         |    UNION ALL SELECT a, c FROM tri
         |  ) GROUP BY 1, 2
         |)
         |SELECT e.src, e.dst, coalesce(s.s, 0) AS support
         |FROM supp_edges e LEFT JOIN sup s ON s.src = e.src AND s.dst = e.dst""".stripMargin,
    "q_ktruss" -> OracleSql.ktrussSupplier(k = 4, rounds = 3),
    "q_ktruss_rmat" -> MiscSql.ktrussRmat(k = 5, rounds = 6),
    "q_ktruss_bulk" -> MiscSql.ktrussRmat(k = 5, rounds = 6),
    "q_modularity" ->
      s"""WITH $SUPP_EDGES_SQL,
         |$SUPP_UND_SQL,
         |lbl AS MATERIALIZED (SELECT s_suppkey AS id, CAST(s_nationkey AS BIGINT) AS c FROM supplier),
         |m2 AS MATERIALIZED (SELECT sum(weight) AS w FROM und),
         |j AS MATERIALIZED (
         |  SELECT u.weight, la.c AS ca, lb.c AS cb
         |  FROM und u JOIN lbl la ON la.id = u.src JOIN lbl lb ON lb.id = u.dst
         |),
         |inc AS MATERIALIZED (SELECT ca, sum(weight) AS in_w FROM j WHERE ca = cb GROUP BY 1),
         |tot AS MATERIALIZED (SELECT ca, sum(weight) AS tot_w FROM j GROUP BY 1)
         |SELECT round(sum(coalesce(i.in_w, 0) / (SELECT w FROM m2)
         |    - pow(t.tot_w / (SELECT w FROM m2), 2)), 6) AS modularity
         |FROM tot t LEFT JOIN inc i ON i.ca = t.ca""".stripMargin,
    "q_topo_sort" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS id, CAST(0 AS BIGINT) AS level FROM region
        |UNION ALL SELECT n_nationkey + 100, 1 FROM nation
        |UNION ALL SELECT s_suppkey + 1000, 2 FROM supplier""".stripMargin,
    "q_ego" ->
      s"""WITH $SUPP_EDGES_SQL,
         |$SUPP_UND_SQL,
         |seed AS MATERIALIZED (SELECT min(src) AS id FROM supp_edges),
         |h1 AS MATERIALIZED (SELECT DISTINCT u.dst AS id FROM und u JOIN seed s ON u.src = s.id),
         |reach AS MATERIALIZED (
         |  SELECT id FROM seed UNION SELECT id FROM h1
         |  UNION SELECT DISTINCT u.dst FROM und u JOIN h1 ON u.src = h1.id
         |)
         |SELECT e.src, e.dst, e.weight FROM supp_edges e
         |JOIN reach a ON e.src = a.id JOIN reach b ON e.dst = b.id""".stripMargin,
    "q_coarsen" ->
      s"""WITH $SUPP_EDGES_SQL,
         |lbl AS MATERIALIZED (SELECT s_suppkey AS id, CAST(s_nationkey AS BIGINT) AS label FROM supplier)
         |SELECT la.label AS src, lb.label AS dst, sum(e.weight) AS weight
         |FROM supp_edges e JOIN lbl la ON la.id = e.src JOIN lbl lb ON lb.id = e.dst
         |GROUP BY 1, 2""".stripMargin,
    "q_renumber" ->
      s"""WITH $SUPP_EDGES_SQL,
         |ext AS MATERIALIZED (
         |  SELECT 'S' || CAST(src AS VARCHAR) AS e FROM supp_edges
         |  UNION SELECT 'S' || CAST(dst AS VARCHAR) FROM supp_edges
         |),
         |map AS MATERIALIZED (SELECT e, row_number() OVER (ORDER BY e) - 1 AS int_id FROM ext)
         |SELECT ms.int_id AS src, md.int_id AS dst, e.weight
         |FROM supp_edges e
         |JOIN map ms ON ms.e = 'S' || CAST(e.src AS VARCHAR)
         |JOIN map md ON md.e = 'S' || CAST(e.dst AS VARCHAR)""".stripMargin,
    "q_hypergraph" ->
      """SELECT event_id, 'event_type' AS col_name, 'event_type::' || event_type AS node_key
        |FROM events WHERE event_type IS NOT NULL
        |UNION ALL
        |SELECT event_id, 'user_id', 'user_id::' || CAST(user_id AS VARCHAR)
        |FROM events WHERE user_id IS NOT NULL""".stripMargin,
    "q_hypergraph_nodes" ->
      """WITH he AS MATERIALIZED (
        |  SELECT event_id, 'event_type' AS col_name, 'event_type::' || event_type AS node_key
        |  FROM events WHERE event_type IS NOT NULL
        |  UNION ALL
        |  SELECT event_id, 'user_id', 'user_id::' || CAST(user_id AS VARCHAR)
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT col_name, node_key, count(*) AS n_rows FROM he GROUP BY 1, 2""".stripMargin,
    "q_hypergraph_direct" ->
      """WITH he AS MATERIALIZED (
        |  SELECT event_id, 'event_type::' || event_type AS node_key
        |  FROM events WHERE event_type IS NOT NULL
        |  UNION ALL
        |  SELECT event_id, 'user_id::' || CAST(user_id AS VARCHAR)
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT a.node_key AS src_key, b.node_key AS dst_key, count(*) AS weight
        |FROM he a JOIN he b ON a.event_id = b.event_id
        |WHERE a.node_key < b.node_key
        |GROUP BY 1, 2""".stripMargin,
    "q_hypergraph_flat" ->
      """SELECT event_id, 'event_type' AS col_name, coalesce(event_type, 'null') AS node_key
        |FROM events
        |UNION ALL
        |SELECT event_id, 'user_id', coalesce(CAST(user_id AS VARCHAR), 'null')
        |FROM events""".stripMargin,
    "q_hypergraph_direct_attrs" ->
      """WITH he AS MATERIALIZED (
        |  SELECT event_id, 'event_type::' || event_type AS node_key
        |  FROM events WHERE event_type IS NOT NULL
        |  UNION ALL
        |  SELECT event_id, 'user_id::' || CAST(user_id AS VARCHAR)
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT a.event_id, a.node_key AS src_key, b.node_key AS dst_key
        |FROM he a JOIN he b ON a.event_id = b.event_id
        |WHERE a.node_key < b.node_key""".stripMargin,
    "q_dedup_exact" -> PipelineSql.dedupExact,
    "q_minhash" -> PipelineSql.minhash(8),
    "q_lsh_pairs" -> PipelineSql.lshPairs(bands = 4, rowsPerBand = 2, threshold = 0.2),
    "q_ngram_jaccard" -> PipelineSql.ngramJaccardPairs(0.2),
    "q_ngram_jaccard_capped" -> PipelineSql.ngramJaccardPairsCapped(0.2, maxDf = 20),
    "q_simhash" -> PipelineSql.simhash(32),
    "q_dup_spans" -> PipelineSql.duplicateSpans(5),
    "q_dup_span_strip" -> PipelineSql.removeDuplicateSpans(5),
    "q_embed_dup" -> PipelineSql.embedDup(0.4),
    "q_embed_dup_lsh" -> PipelineSql.embedDupLsh(0.4, planes = 4),
    "q_ann_topk" -> PipelineSql.annTopK(nQueries = 5, k = 10),
    "q_ann_ivf" -> PipelineSql.annIvf(nQueries = 5, k = 10, nlist = 16,
      nprobe = 4, iters = 3, dim = 64),
    "q_ann_pq" -> PipelineSql.annPq(nQueries = 5, k = 10, m = 8, ksub = 16,
      iters = 2, dim = 64),
    "q_ann_ivfpq" -> PipelineSql.annIvfPq(nQueries = 5, k = 10, nlist = 16,
      nprobe = 4, m = 8, ksub = 16, itersCoarse = 3, itersPq = 2, dim = 64),
    "q_mmr_select" -> PipelineSql.mmrSelect(k = 4),
    "q_embed_dup_ivf" -> PipelineSql.embedDupIvf(0.4, nlist = 16, iters = 3, dim = 64),
    "q_curation_e2e" -> PipelineSql.curationE2e(bands = 4, rowsPerBand = 2,
      lshThreshold = 0.2, semThreshold = 0.4, nlist = 16, iters = 3, dim = 64,
      perCluster = 8, nShards = 4),
    "q_knn_graph" -> PipelineSql.knnGraph(k = 5, nlist = 16, iters = 3, dim = 64),
    "q_knn_components" -> PipelineSql.knnComponents(k = 5, nlist = 16, iters = 3,
      dim = 64, rounds = 12),
    "q_incremental_dedup" -> PipelineSql.incrementalDedup(bands = 4, rowsPerBand = 2),
    "q_decontaminate" -> PipelineSql.decontaminate(
      n = 5, maxFraction = 0.0, evalPred = "doc_id % 37 = 0"),
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pr AS MATERIALIZED (${PipelineSql.lshPairs(bands = 4, rowsPerBand = 2, threshold = 0.2)}),
         |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
         |)
         |SELECT a AS doc_id, min(b) AS cluster, a = min(b) AS is_canonical
         |FROM reach GROUP BY a""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE pr AS MATERIALIZED (${PipelineSql.lshPairs(bands = 4, rowsPerBand = 2, threshold = 0.2)}),
         |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
         |),
         |clus AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
         |tok AS MATERIALIZED (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         |j AS MATERIALIZED (
         |  SELECT c.cluster, c.doc_id, t.n_tokens,
         |    row_number() OVER (PARTITION BY c.cluster
         |                       ORDER BY t.n_tokens DESC, c.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster) AS n_members
         |  FROM clus c JOIN tok t USING (doc_id))
         |SELECT cluster, doc_id AS kept_id, n_tokens AS kept_tokens,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM j WHERE rn = 1""".stripMargin,
    "q_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |                 '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "q_split" ->
      """SELECT doc_id,
        |  CASE WHEN CAST('0x' || substr(md5(concat_ws('|', 'split', doc_id, 42)), 1, 15) AS BIGINT) % 100 < 95
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents""".stripMargin,
    "q_source_cap" ->
      """WITH pri AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         CAST('0x' || substr(md5(concat_ws('|', 'cap', doc_id, 42)), 1, 15) AS BIGINT) AS pri
        |  FROM documents
        |),
        |rn AS (SELECT doc_id, source,
        |              row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
        |       FROM pri)
        |SELECT doc_id, source FROM rn WHERE rn <= 10""".stripMargin,
    "q_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(concat_ws('|', 'strat', doc_id, 42)), 1, 15) AS BIGINT) % 1000000
        |      < CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 250000
        |                  WHEN 'es' THEN 250000 WHEN 'de' THEN 125000
        |                  ELSE 100000 END""".stripMargin,
    "q_pack" ->
      """WITH b AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(concat_ws('|', 'pack', doc_id, 42)), 1, 15) AS BIGINT) AS pri,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, pri % 8 AS bucket, n_tokens,
        |         coalesce(sum(n_tokens) OVER (
        |           PARTITION BY pri % 8 ORDER BY pri, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM b
        |)
        |SELECT doc_id, bucket, CAST(cum_before // 2048 AS BIGINT) AS chunk,
        |       CAST(cum_before % 2048 AS BIGINT) AS "offset", n_tokens
        |FROM c""".stripMargin,
    "q_shard" ->
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(concat_ws('|', 'shard', doc_id, 42)), 1, 15) AS BIGINT) AS pri
        |  FROM documents
        |)
        |SELECT doc_id, pri % 8 AS shard,
        |       CAST(row_number() OVER (PARTITION BY pri % 8 ORDER BY pri, doc_id) - 1 AS BIGINT) AS pos
        |FROM p""".stripMargin,
    "q_length_batches" ->
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id, CAST(len(CAST(n_chars AS VARCHAR)) AS BIGINT) AS bucket,
        |         CAST('0x' || substr(md5(concat_ws('|', 'lbatch', doc_id, 42)), 1, 15) AS BIGINT) AS pri
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |       CAST((row_number() OVER (PARTITION BY bucket ORDER BY pri, doc_id) - 1) // 16 AS BIGINT) AS batch
        |FROM p""".stripMargin,
    "q_gopher_rules" -> PipelineSql.gopherRules(minWords = 50, maxWords = 100000,
      stopWords = Seq("the", "a"), minStopHits = 2),
    "q_writer_e2e" -> PipelineSql.writerE2e(minWords = 50, nShards = 4,
      stopWords = Seq("the", "a"), minStopHits = 2),
    "q_sessionize" -> PipelineSql.sessionStats(gapSeconds = 14400L),
    "q_funnel" -> PipelineSql.funnel(Seq("view", "click", "purchase")),
    "q_retention" -> PipelineSql.retention,
    "q_manifest" -> PipelineSql.shardManifest(nShards = 8),
    "q_dsir" -> PipelineSql.dsir(targetLang = "en"),
    "q_fertility" -> PipelineSql.fertility(nMerges = 5),
    "q_token_count" -> PipelineSql.tokenCounts,
    "q_quality" -> PipelineSql.quality,
    "q_langid" -> PipelineSql.langId,
    "q_nb_classify" -> PipelineSql.nbClassify(alpha = 1.0, maxVocab = 65536),
    "q_lr_classify" -> PipelineSql.lrClassify(iters = 8, lr = 8.0),
    "q_fingerprint" -> PipelineSql.fingerprints(n = 5, w = 4),
    "q_chunk" -> PipelineSql.chunkDocs(window = 32, stride = 24),
    "q_contamination" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |shn AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s
        |  FROM w, unnest(generate_series(1, len(ws) - 3)) AS t(i)
        |),
        |bsh AS MATERIALIZED (SELECT doc_id AS bench_id, s FROM shn WHERE doc_id % 97 = 0)
        |SELECT a.doc_id, count(*) AS n_hit_ngrams, count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM shn a JOIN bsh b USING (s)
        |WHERE a.doc_id <> b.bench_id
        |GROUP BY 1""".stripMargin,
    "q_repetition" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh3 AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' ')) AS shs
        |  FROM w
        |)
        |SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_ngrams,
        |  CASE WHEN len(shs) > 0
        |       THEN round(1.0 - CAST(len(list_distinct(shs)) AS DOUBLE) / len(shs), 6)
        |       ELSE 0.0 END AS repetition
        |FROM sh3""".stripMargin,
    "q_vocab" -> PipelineSql.vocab(topK = 100),
    "q_tfidf" -> PipelineSql.tfidf(k = 3),
    "q_quality_filter" -> PipelineSql.qualityFilter(minPct = 0.5),
    "q_curriculum" -> PipelineSql.curriculum(phases = 4),
    "q_cluster_sample" -> PipelineSql.clusterSample(nlist = 16, perCluster = 8,
      iters = 3, dim = 64),
    "q_knn_classify" -> PipelineSql.knnClassify(nQueries = 25, k = 10),
    "q_entropy" -> PipelineSql.tokenEntropy,
    "q_pmi" -> PipelineSql.pmiPairs(window = 2, minCount = 5, topK = 50),
    "q_lm_score" -> PipelineSql.bigramLm(k = 0.5),
    "q_hard_negatives" -> PipelineSql.hardNegatives(nQueries = 10, k = 10),
    "q_bpe_train" -> PipelineSql.bpeTrain(nMerges = 5),
    "q_bpe_tokens" -> PipelineSql.bpeTokenCount(nMerges = 5),
    "q_edit_dist" -> PipelineSql.editDistancePairs(bands = 4, rowsPerBand = 2),
    "q_source_stats" -> PipelineSql.sourceStats,
    "q_cross_source_dup" -> PipelineSql.crossSourceDup(n = 8),
    "q_pipeline_e2e" ->
      s"""WITH h AS MATERIALIZED (SELECT doc_id, md5(text) AS grp FROM documents),
         |canon AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM h GROUP BY grp),
         |good AS MATERIALIZED (
         |  SELECT doc_id FROM (${PipelineSql.quality.replace("\n", "\n  ")}) WHERE quality >= 0.5
         |),
         |ww AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |shn AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS s
         |  FROM ww, unnest(generate_series(1, len(ws) - 3)) AS t(i)
         |),
         |bsh AS MATERIALIZED (SELECT doc_id AS bench_id, s FROM shn WHERE doc_id % 97 = 0),
         |cont AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id FROM shn a JOIN bsh b USING (s) WHERE a.doc_id <> b.bench_id
         |),
         |kept AS MATERIALIZED (
         |  SELECT c.doc_id FROM canon c JOIN good g USING (doc_id)
         |  WHERE c.doc_id % 97 <> 0
         |    AND NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = c.doc_id)
         |)
         |SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5(concat_ws('|', 'split', doc_id, 42)), 1, 15) AS BIGINT) % 100 < 95
         |       THEN 'train' ELSE 'val' END AS split
         |FROM kept""".stripMargin,
    "q_media_meta" -> PipelineSql.mediaMeta,
    "q_media_dims" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 1024
        |            ELSE 1 + (doc_id * 3) % 4096 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id * 7) % 768
        |            ELSE 1 + (doc_id * 5) % 4096 END AS BIGINT) AS height
        |FROM documents""".stripMargin,
    "q_audio_meta" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |                       WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
        |  CAST(8 * (1 + doc_id % 3) AS BIGINT) AS bits,
        |  CAST(strlen(text) // ((1 + doc_id % 2) * (1 + doc_id % 3)) AS BIGINT) AS n_samples
        |FROM documents""".stripMargin,
    "q_media_pixels" ->
      """WITH r AS (
        |  SELECT doc_id, 1 + doc_id % 12 AS w, 1 + (doc_id * 5) % 9 AS h
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'pgm' END AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, w * h),
        |       p -> (doc_id * 31 + p * 7) % 256)) AS BIGINT) AS sum_r,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN list_sum(list_transform(range(0, w * h),
        |            p -> (doc_id * 31 + p * 7 + 54) % 256))
        |       ELSE list_sum(list_transform(range(0, w * h),
        |            p -> (doc_id * 31 + p * 7) % 256)) END AS BIGINT) AS sum_g,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN list_sum(list_transform(range(0, w * h),
        |            p -> (doc_id * 31 + p * 7 + 108) % 256))
        |       ELSE list_sum(list_transform(range(0, w * h),
        |            p -> (doc_id * 31 + p * 7) % 256)) END AS BIGINT) AS sum_b
        |FROM r""".stripMargin,
    "q_media_decode" -> PipelineSql.mediaDecode,
    "q_frame_sample" -> PipelineSql.frameSample(frameBytes = 64, stride = 4),
    "q_from_adjlist" ->
      s"WITH $SUPP_EDGES_SQL SELECT src, dst, weight FROM supp_edges",
    "q_from_dense" ->
      s"WITH $SUPP_EDGES_SQL, $SUPP_UND_SQL SELECT src, dst, weight FROM und",
    "q_to_dense" ->
      s"WITH $SUPP_EDGES_SQL, $SUPP_UND_SQL SELECT src, dst, weight FROM und",
    "q_small_line_sssp" ->
      DatasetSql.sssp(sources.Datasets.smallLineEdges, rounds = 10, source = 0L),
    "q_small_tree_topo" ->
      DatasetSql.topoLevels(sources.Datasets.smallTreeEdges, rounds = 4),
    "q_toy_eigenvector" ->
      DatasetSql.eigenvector(sources.Datasets.toyGraphEdges, iters = 10),
    "q_karate_asym_pagerank" ->
      DatasetSql.pagerank(sources.Datasets.karateAsymmetricEdges, iters = 10),
    "q_karate_triangles" -> {
      val vals = sources.Datasets.karateEdges.map { case (a, b) => s"($a, $b)" }.mkString(", ")
      s"""WITH k0(s0, d0) AS (VALUES $vals),
         |k AS MATERIALIZED (SELECT CAST(s0 AS BIGINT) AS src, CAST(d0 AS BIGINT) AS dst FROM k0),
         |kverts AS MATERIALIZED (SELECT src AS id FROM k UNION SELECT dst FROM k),
         |tri AS MATERIALIZED (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM k e1 JOIN k e2 ON e1.dst = e2.src
         |  WHERE EXISTS (SELECT 1 FROM k e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)
         |),
         |cnt AS MATERIALIZED (
         |  SELECT id, count(*) AS triangle_count FROM (
         |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
         |  ) GROUP BY id
         |)
         |SELECT v.id, coalesce(c.triangle_count, 0) AS triangle_count
         |FROM kverts v LEFT JOIN cnt c ON c.id = v.id""".stripMargin
    },
    "q_louvain" -> MiscSql.louvainFullPart(iters = 5),
    "q_louvain_l1" -> MiscSql.louvainL1Supplier(rounds = 8),
    "q_ecg_votes" -> MiscSql.ecgVotesSupplier(ensembleSize = 4, rounds = 5),
    "q_leiden_refine" -> MiscSql.leidenRefineSupplier(l1Rounds = 8, wccRounds = 6),
    "q_leiden" -> MiscSql.leidenFullSupplier(iters = 5, wccRounds = 6),
    "q_ecg" -> MiscSql.ecgFullSupplier(ensembleSize = 4, voteRounds = 5, iters = 8),
    "q_dolphins_jaccard" ->
      DatasetSql.jaccardTopK(sources.Datasets.dolphinsEdges, k = 20),
    "q_polbooks_triangles" ->
      DatasetSql.triangles(sources.Datasets.polbooksEdges),
    "q_netscience_wcc" ->
      DatasetSql.wcc(sources.Datasets.netscienceEdges.map(e => (e._1, e._2)), rounds = 25),
    "q_karate_disjoint_wcc" ->
      DatasetSql.wcc(sources.Datasets.karateDisjointEdges, rounds = 8),
    "q_mst" -> MiscSql.mstSupplier(rounds = 7),
    "q_mst_max" -> MiscSql.mstSupplier(rounds = 7, maximum = true),
    "q_kcore" -> MiscSql.kcoreSupplier(k = 50, rounds = 4),
    "q_core_number" -> MiscSql.coreNumberRmat(maxK = 10, rounds = 9),
    "q_core_number_in" -> MiscSql.coreNumberRmatDirected("incoming", maxK = 8, rounds = 8),
    "q_core_number_out" -> MiscSql.coreNumberRmatDirected("outgoing", maxK = 8, rounds = 8),
    "q_assignment" -> MiscSql.assignmentCustSupp,
    "q_assignment_auction" -> MiscSql.assignmentCustSuppCost,
    "q_assignment_jv" -> MiscSql.assignmentJv(),
    "q_multigraph" ->
      """SELECT o_custkey AS src, l_suppkey + 100000 AS dst,
        |       count(*) AS multiplicity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_fa2_layout" -> MiscSql.fa2Supplier(iters = 3),
    "q_traversed_cost" -> MiscSql.traversedCostSupplier(rounds = 12),
    "q_spectral" -> MiscSql.spectralPicSupplier(),
    "q_spectral_mod" -> MiscSql.spectralPicSupplier(degreeInit = false),
    "q_spectral_eigen" -> MiscSql.spectralEigenSupplier(),
    "q_coloring" -> MiscSql.coloringTree(colors = 5, misRounds = 6, seed = 42),
    "q_coloring_fast" -> MiscSql.fastColoringTree(initColors = 4, rounds = 8, seed = 42),
    "q_mis" -> MiscSql.misTree(rounds = 6, seed = 42),
    "q_matching" -> MiscSql.matchingSupplier(rounds = 3),
    "q_edge_lookup" -> MiscSql.edgeLookup,
    "q_graph_summary" -> MiscSql.graphSummary,
    "q_rmat" -> GenSql.rmat(scale = 8, numEdges = 1024),
    "q_rmat_scrambled" -> GenSql.rmatScrambled(scale = 8, numEdges = 1024),
    "q_erdos_renyi" -> GenSql.erdosRenyi(n = 100, p = 0.05),
    "q_gen_path" -> GenSql.pathGraph(100),
    "q_wcc_star" ->
      "SELECT CAST(i AS BIGINT) AS id, CAST(0 AS BIGINT) AS component FROM range(0, 4000) t(i)",
    "q_gen_grid" -> GenSql.grid2d(10, 10),
    "q_gen_mesh3d" -> GenSql.mesh3d(4, 3, 5, base = 10),
    "q_rmat_bipartite" -> GenSql.bipartiteRmat(srcScale = 8, dstScale = 5, numEdges = 512),
    "q_rmat_multi" -> GenSql.rmatMulti(nLists = 3, minScale = 4, maxScale = 6,
      edgeFactor = 4),
    "q_gen_complete" -> GenSql.complete(30),
    "q_uniform_walks" -> SamplingSql.uniformWalks(nWalks = 5, depth = 4, seed = 42),
    "q_biased_walks" -> SamplingSql.biasedWalks(nWalks = 5, depth = 4, seed = 42),
    "q_node2vec" -> SamplingSql.node2vecWalks(nWalks = 5, depth = 3, p = 1.0, q = 2.0, seed = 42),
    "q_neighbor_sample" -> SamplingSql.neighborSample(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_walks_padded" -> SamplingSql.paddedDagWalks(depth = 4, seed = 42),
    "q_sample_renumber" -> {
      val base = SamplingSql.neighborSample(nBatches = 3, fanouts = Seq(2, 2), seed = 42)
      // wrap the sample CTE chain: per-batch dense_rank renumbering
      val body = base.substring(0, base.lastIndexOf("SELECT batch_id,"))
      body + ",\n" +
        """sfinal AS MATERIALIZED (SELECT batch_id, CAST(hop AS BIGINT) AS hop, src, dst FROM sampled),
          |sverts AS MATERIALIZED (
          |  SELECT DISTINCT batch_id, v FROM (
          |    SELECT batch_id, src AS v FROM sfinal UNION ALL SELECT batch_id, dst FROM sfinal
          |  )
          |),
          |ranked AS MATERIALIZED (
          |  SELECT batch_id, v, CAST(dense_rank() OVER (PARTITION BY batch_id ORDER BY v) - 1 AS BIGINT) AS r
          |  FROM sverts
          |)
          |SELECT s.batch_id, s.hop, s.src, s.dst, a.r AS src_r, b.r AS dst_r
          |FROM sfinal s
          |JOIN ranked a ON a.batch_id = s.batch_id AND a.v = s.src
          |JOIN ranked b ON b.batch_id = s.batch_id AND b.v = s.dst""".stripMargin
    },
    "q_jaccard_topk" -> {
      // rank by the UNROUNDED coefficient (as the Spark side does), round
      // only the reported value — rounding-induced rank ties would diverge
      val inner = similaritySql("CAST(i.i AS DOUBLE) / (da.d + db.d - i.i)", "jc_raw")
      s"""WITH scored AS MATERIALIZED ($inner)
         |SELECT src, dst, round(jc_raw, 6) AS jaccard_coeff FROM (
         |  SELECT src, dst, jc_raw,
         |    row_number() OVER (PARTITION BY src ORDER BY jc_raw DESC, dst) AS rn
         |  FROM scored
         |) WHERE rn <= 3""".stripMargin
    },
    "q_relabel" ->
      s"WITH $SUPP_EDGES_SQL SELECT src + 5000 AS src, dst + 5000 AS dst, weight FROM supp_edges",
    "q_neighbor_biased" -> SamplingSql.neighborSampleBiased(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_hetero_sample" -> SamplingSql.heteroSample(nBatches = 3,
      fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)), seed = 42),
    "q_temporal_sample" -> SamplingSql.temporalSample(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_temporal_biased" -> SamplingSql.temporalBiasedSample(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_temporal_windowed" -> SamplingSql.temporalWindowedSample(nBatches = 4, fanouts = Seq(2, 2), seed = 42, decreasing = false),
    "q_temporal_decreasing" -> SamplingSql.temporalWindowedSample(nBatches = 4, fanouts = Seq(2, 2), seed = 42, decreasing = true),
    "q_temporal_hetero_biased" -> SamplingSql.temporalHeteroBiasedSample(nBatches = 3,
      fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)), seed = 42),
    "q_temporal_hetero" -> SamplingSql.temporalHeteroSample(nBatches = 3,
      fanouts = Map(0 -> Seq(2, 2), 1 -> Seq(1, 1)), seed = 42),
    "q_negative_sample" -> SamplingSql.negativeSample(n = 200, seed = 42),
    "q_sample_csr" -> SamplingSql.sampleCsr(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_sample_dcsr" -> SamplingSql.sampleDcsr(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_sample_csc" -> SamplingSql.sampleCsc(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_sample_renumber_seeds" -> SamplingSql.sampleRenumberSeeds(nBatches = 3, fanouts = Seq(2, 2), seed = 42),
    "q_negative_biased" -> SamplingSql.negativeBiasedSample(n = 200, seed = 42),
    "q_select_random_vertices" -> SamplingSql.selectRandomVertices(k = 10, seed = 42),
    "q_msbfs" -> SamplingSql.msBfs(nSources = 3, rounds = 12),
    "q_ego_batched" -> SamplingSql.egoBatched(nSeeds = 3, radius = 2),
    "q_od_distances" -> SamplingSql.odDistances(nOrigins = 3, nDests = 5, rounds = 12),
    "q_od_weighted" -> SamplingSql.odWeighted(nOrigins = 3, nDests = 5, rounds = 10),
    "q_bfs_paths" -> SamplingSql.bfsPaths(nDests = 3, rounds = 12),
    "q_edge_cut" -> SamplingSql.edgeCut,
    "q_ratio_cut" -> SamplingSql.ratioCut,
    "q_jaccard_weighted" -> similarityWeightedSql(
      "round(i.i / (da.d + db.d - i.i), 6)", "jaccard_coeff"),
    "q_sorensen_weighted" -> similarityWeightedSql(
      "round(2.0 * i.i / (da.d + db.d), 6)", "sorensen_coeff"),
    "q_overlap_weighted" -> similarityWeightedSql(
      "round(i.i / least(da.d, db.d), 6)", "overlap_coeff"),
    "q_cosine_weighted" -> similarityWeightedSql(
      "round(i.i / sqrt(da.d * db.d), 6)", "cosine_coeff"),
    "q_cosine_weighted_capped" ->
      s"""WITH ${Fixtures.PART_EDGES_SQL},
         |${Fixtures.PART_REPEAT_SQL},
         |pund AS MATERIALIZED (
         |  SELECT src, dst, weight FROM part_rep
         |  UNION ALL SELECT dst, src, weight FROM part_rep
         |),
         |pdeg AS MATERIALIZED (SELECT src AS m, count(*) AS d FROM pund GROUP BY 1),
         |hubs AS MATERIALIZED (SELECT m FROM pdeg WHERE d > 4),
         |pwdeg AS MATERIALIZED (SELECT src AS id, sum(weight) AS wd FROM pund GROUP BY 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT x.dst AS a, y.dst AS b
         |  FROM pund x JOIN pund y ON x.src = y.src AND x.dst < y.dst
         |  WHERE NOT EXISTS (SELECT 1 FROM hubs h WHERE h.m = x.src)
         |),
         |inter AS MATERIALIZED (
         |  SELECT x.dst AS a, y.dst AS b, sum(least(x.weight, y.weight)) AS i
         |  FROM pund x JOIN pund y ON x.src = y.src AND x.dst < y.dst
         |  GROUP BY 1, 2
         |)
         |SELECT c.a AS src, c.b AS dst, round(i.i / sqrt(da.wd * db.wd), 6) AS cosine_coeff
         |FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN pwdeg da ON da.id = c.a JOIN pwdeg db ON db.id = c.b""".stripMargin,
    "q_jaccard" -> similaritySql("round(CAST(i.i AS DOUBLE) / (da.d + db.d - i.i), 6)", "jaccard_coeff"),
    "q_jaccard_pairs" ->
      s"""WITH ${Fixtures.SUPP_EDGES_SQL},
         |${Fixtures.SUPP_UND_SQL},
         |${Fixtures.SUPP_VERTS_SQL},
         |ranked AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM verts),
         |pairs AS MATERIALIZED (
         |  SELECT x.id AS a, y.id AS b FROM ranked x JOIN ranked y ON y.rn = x.rn + 3
         |),
         |deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM und GROUP BY 1),
         |inter AS MATERIALIZED (
         |  SELECT p.a, p.b, count(*) AS i
         |  FROM pairs p
         |  JOIN und na ON na.src = p.a JOIN und nb ON nb.src = p.b AND nb.dst = na.dst
         |  GROUP BY 1, 2
         |)
         |SELECT p.a AS src, p.b AS dst,
         |       round(CAST(coalesce(i.i, 0) AS DOUBLE)
         |             / (da.d + db.d - coalesce(i.i, 0)), 6) AS jaccard_coeff
         |FROM pairs p
         |LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |JOIN deg da ON da.id = p.a JOIN deg db ON db.id = p.b""".stripMargin,
    "q_overlap" -> similaritySql("round(CAST(i.i AS DOUBLE) / least(da.d, db.d), 6)", "overlap_coeff"),
    "q_cosine" -> similaritySql("round(CAST(i.i AS DOUBLE) / sqrt(CAST(da.d AS DOUBLE) * db.d), 6)", "cosine_coeff"),
    "q_sorensen" -> similaritySql("round(2.0 * i.i / (da.d + db.d), 6)", "sorensen_coeff"),
    "q_stream_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |       min(doc_id) AS survivor
        |FROM documents GROUP BY 1""".stripMargin,
    "q_stream_window_counts" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_stream_lsh_candidates" -> PipelineSql.lshCandidates(bands = 4, rowsPerBand = 2),
    // gaps-and-islands mirror of session_window: a session breaks when the
    // gap to the previous event is >= 14400s (session_window merges only
    // on strict interval overlap, next.ts < prev.ts + gap)
    "q_stream_sessions" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS eu, value FROM events),
        |flg AS MATERIALIZED (
        |  SELECT user_id, eu, value,
        |    CASE WHEN eu - lag(eu) OVER (PARTITION BY user_id ORDER BY eu)
        |              < 14400000000
        |         THEN 0 ELSE 1 END AS ns
        |  FROM ev),
        |isl AS MATERIALIZED (
        |  SELECT user_id, eu, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY eu
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flg)
        |SELECT user_id, min(eu) // 1000000 AS session_start,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM isl GROUP BY user_id, sid""".stripMargin,
    // append-mode twin: same rollup, restricted to sessions the 0-delay
    // watermark has closed — session end (last event + gap) <= max(ts)
    "q_stream_sessions_append" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS eu, value FROM events),
        |flg AS MATERIALIZED (
        |  SELECT user_id, eu, value,
        |    CASE WHEN eu - lag(eu) OVER (PARTITION BY user_id ORDER BY eu)
        |              < 14400000000
        |         THEN 0 ELSE 1 END AS ns
        |  FROM ev),
        |isl AS MATERIALIZED (
        |  SELECT user_id, eu, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY eu
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flg)
        |SELECT user_id, min(eu) // 1000000 AS session_start,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM isl GROUP BY user_id, sid
        |HAVING max(eu) + 14400000000 <= (SELECT max(eu) FROM ev)""".stripMargin,
    "q_stream_vertex_summary" ->
      """SELECT l_suppkey AS id, CAST(count(*) AS BIGINT) AS degree,
        |       sum(CAST(l_quantity AS DOUBLE)) AS weight_sum,
        |       min(l_partkey) AS min_nbr, max(l_partkey) AS max_nbr
        |FROM lineitem GROUP BY 1""".stripMargin,
  )

  private def similarityWeightedSql(scoreExpr: String, name: String): String =
    s"""WITH $SUPP_EDGES_SQL,
       |$SUPP_UND_SQL,
       |wdeg AS MATERIALIZED (SELECT src AS id, sum(weight) AS d FROM und GROUP BY 1),
       |inter AS MATERIALIZED (
       |  SELECT l.src AS a, r.dst AS b, sum(least(l.weight, r.weight)) AS i
       |  FROM und l JOIN und r ON l.dst = r.src
       |  WHERE l.src < r.dst
       |  GROUP BY 1, 2
       |)
       |SELECT i.a AS src, i.b AS dst, $scoreExpr AS $name
       |FROM inter i JOIN wdeg da ON da.id = i.a JOIN wdeg db ON db.id = i.b""".stripMargin

  private def similaritySql(scoreExpr: String, name: String): String =
    s"""WITH $SUPP_EDGES_SQL,
       |$SUPP_UND_SQL,
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM und GROUP BY 1),
       |inter AS MATERIALIZED (
       |  SELECT l.src AS a, r.dst AS b, count(*) AS i
       |  FROM und l JOIN und r ON l.dst = r.src
       |  WHERE l.src < r.dst
       |  GROUP BY 1, 2
       |)
       |SELECT i.a AS src, i.b AS dst, $scoreExpr AS $name
       |FROM inter i JOIN deg da ON da.id = i.a JOIN deg db ON db.id = i.b""".stripMargin
}
