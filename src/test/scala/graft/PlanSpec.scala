package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.core.Gr._

/** Physical-plan shape assertions (SURVEY §5d): the properties that decide
  * 100 TB viability are visible in `.explain` — column-pruned parquet
  * scans, broadcast of per-vertex state into edge joins, per-partition
  * top-k instead of a global sort. These tests pin them so a regression in
  * plan shape fails CI even when the answers stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plans of the `materialize` executions `body` runs whose plan contains
    * `marker` — one per loop round. */
  private def roundPlans(marker: String)(body: => Unit): Seq[String] = {
    val plans = capturePlans(body).collect { case ("materialize", p) if p.contains(marker) => p }
    assert(plans.nonEmpty, s"no materialize execution ran a plan with $marker")
    plans
  }

  test("parquet scan prunes to the selected columns and pushes filters") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_suppkey") < 10)
      .select("l_orderkey", "l_suppkey")
    li.collect()
    val plan = planOf(li)
    assert(plan.contains("ReadSchema: struct<l_orderkey"), plan.take(800))
    // the full lineitem schema must NOT reach the scan
    assert(!plan.contains("l_extendedprice"), "scan reads unused columns")
    assert(plan.contains("PushedFilters: [") && plan.contains("LessThan(l_suppkey,10)"),
      "filter not pushed to the scan")
  }

  test("Hint.state under the broadcast gate plans a broadcast join") {
    val e = edgeDF(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val state = edgeDF(Seq((1L, 0L))).select(col(SRC).as(ID), col(DST).as("v"))
    val joined = e.join(graft.prims.Hint.state(state.withColumnRenamed(ID, SRC), 1L), SRC)
    assert(planOf(joined).contains("BroadcastHashJoin"), planOf(joined).take(800))
  }

  test("pipeline text ops prune the documents scan to the touched columns") {
    // a 100 TB corpus with fat rows lives or dies on column pruning: token
    // counting touches (doc_id, text) and must not drag lang/source/n_chars
    // through the scan
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val tc = graft.pipeline.TextAnalysis.tokenCounts(docs)
    tc.collect()
    val plan = planOf(tc)
    assert(plan.contains("ReadSchema: struct<doc_id"), plan.take(800))
    assert(!plan.contains("n_chars"), "tokenCounts scan reads unused columns")
  }

  test("shingle frame runs the native text kernels — no interpreted lambda, no conv chain") {
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(Seq(1L -> "the quick brown fox jumps",
      2L -> "the quick brown dog", 3L -> "a b")).toDF("doc_id", "text")
    val sh = graft.pipeline.Dedup.shingleFrame(docs)
    val mh = graft.pipeline.Dedup.minhash(docs)
    sh.collect(); mh.collect()
    Seq(planOf(sh), planOf(mh)).foreach { plan =>
      assert(plan.contains("shingles("), plan.take(1200))
      assert(!plan.contains("transform(") && !plan.contains("lambda"),
        "shingling fell back to an interpreted lambda:\n" + plan.take(1200))
      assert(!plan.contains("conv("), "hash60 went through the md5→conv chain:\n" + plan.take(1200))
    }
    assert(planOf(mh).contains("hash60("), planOf(mh).take(1200))
  }

  test("stratified sampling is a pure map-side filter — no Exchange in the plan") {
    // the corpus-mixing filter must never shuffle: at 100 TB it is a
    // scan+filter whose selectivity Catalyst can fold into the file scan
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val kept = graft.pipeline.TextAnalysis.stratifiedSample(docs,
      ratesPpm = Map("en" -> 500000L), defaultPpm = 100000L)
    kept.collect()
    val plan = planOf(kept)
    assert(!plan.contains("Exchange"), "stratifiedSample introduced a shuffle:\n" + plan.take(1200))
  }

  test("brute-force ANN broadcasts the query side, never a cartesian or shuffle of the corpus") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val top = graft.pipeline.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), k = 3)
    top.collect()
    val plan = planOf(top)
    assert(plan.contains("Broadcast"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "corpus x queries fell back to a cartesian product")
  }

  test("PQ-ADC scoring joins the code table against broadcast LUTs, never a cartesian") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val top = graft.pipeline.Ann.pqTopK(emb, emb.filter(col("vec_id") < 2), k = 3)
    top.collect()
    val plan = planOf(top)
    // every per-subspace LUT join must be a broadcast hash join — the
    // corpus-side code table is scanned once, its vectors never shuffled
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "PQ scoring fell back to a cartesian product")
  }

  test("duplicated-span mining never goes all-pairs: equi-joins only") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val spans = graft.pipeline.Dedup.duplicateSpans(docs, k = 5)
    spans.collect()
    val plan = planOf(spans)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "span mining produced a non-equi join:\n" + plan.take(1200))
  }

  test("hub-capped weighted kernel broadcasts the hub list, equi-joins only") {
    // at 100 TB the hub list is the tiny side of both semi-joins and the
    // candidate rescore must stay an equi-join — a plan regression here
    // reintroduces the sum(deg^2) hub blowup the cap exists to prevent
    val es = (0L until 10L).flatMap(i => Seq((i, 99L, 1.0), (i, (i + 1) % 10, 2.0)))
    val g = core.GraphBuilder.fromEdges(
      wEdgeDF(es), SRC, DST, Some(WEIGHT), directed = false)
    val (inter, _) = graft.algos.Similarity.interAndDegWeightedCapped(g, maxDegree = 5)
    inter.collect()
    val plan = planOf(inter)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "capped kernel produced a non-equi join:\n" + plan.take(1200))
  }

  test("selectRandomVertices plans TakeOrderedAndProject, not a global sort") {
    val verts = edgeDF((1L to 100L).map(i => (i, i + 1))).select(col(SRC).as(ID))
    val picked = graft.sampling.NeighborSampling.selectRandomVertices(verts, k = 5)
    val plan = planOf(picked)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Window"), "global window crept back in")
  }

  test("vocab top-k plans TakeOrderedAndProject over a partial-agg count, not a global sort") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val v = graft.pipeline.TextAnalysis.vocab(docs, topK = 10)
    val plan = planOf(v)
    // per-partition heaps merged on the driver — a 100 TB vocabulary never
    // passes through a single-partition global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "word counting lost its partial (map-side) aggregation:\n" + plan.take(1200))
  }

  test("knn vote attaches labels by broadcasting the tiny neighbor list") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val pred = graft.pipeline.Ann.knnClassify(emb, emb.filter(col("vec_id") < 3), k = 5)
    pred.collect()
    val plan = planOf(pred)
    // the corpus label column is scanned once and joined against the
    // broadcast queries×k neighbor list — the corpus is never shuffled to
    // meet a 15-row frame
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("knnGraph pairs vectors by an equi-join on the cell id — never all-pairs") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val g = graft.pipeline.Ann.knnGraph(emb, k = 3, nlist = 4, iters = 1)
    g.collect()
    val plan = planOf(g)
    // the pair scoring must route through a hash join keyed on the cell id;
    // a nested-loop/cartesian pairing here is the all-pairs blowup the IVF
    // bucketing exists to prevent (the only cross join in the operator is
    // the bounded corpus × nlist-centroid assignment, which materializes
    // before this final plan)
    assert(plan.contains("HashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "knnGraph pair generation went all-pairs:\n" + plan.take(1500))
  }

  test("PMI pair generation is an equi-join on doc+position — no square enumeration") {
    // the pair frame materializes mid-operator, so its join shape is not in
    // the FINAL executed plan — capture every plan the operator runs
    val all = capturePlans {
      val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
      graft.pipeline.TextAnalysis.pmiPairs(docs, window = 2, minCount = 2, topK = 10)
        .collect()
    }.map(_._2)
    assert(all.exists(_.contains("Join [doc_id")),
      "PMI pair join lost its (doc, position) equi-key")
    // the single-row totals frame rides a broadcast cross join by design;
    // what must never appear is an unkeyed CartesianProduct
    assert(!all.exists(_.contains("CartesianProduct")))
  }

  test("cluster sampling assigns centroids via broadcast and caps via per-cluster window") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val cs = graft.pipeline.Ann.clusterSample(emb, nlist = 4, perCluster = 3, iters = 1)
    cs.collect()
    val plan = planOf(cs)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "centroid table must broadcast into the corpus scan:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "corpus-side cartesian crept into centroid assignment")
  }

  test("biclique co-occurrence broadcasts the candidate list — equi-joins only") {
    val e = edgeDF(Seq((1L, 101L), (2L, 101L), (1L, 102L), (2L, 102L), (3L, 103L)))
    val cand = edgeDF(Seq((101L, 102L))).select(col(SRC).as(DST))
    val co = graft.algos.Bicliques.coOccurrence(e, cand)
    co.collect()
    val plan = planOf(co)
    // the corpus-sized edge frame equi-joins the broadcast ≤maxIter
    // candidate list on the feature key, then itself on the machine key —
    // never a cartesian
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "biclique candidate sweep went cartesian")
  }

  test("DSIR scoring equi-joins the vocab and broadcasts only the 1-row stats") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val w = graft.pipeline.TextAnalysis.dsirWeights(docs)
    w.collect()
    val plan = planOf(w)
    // the corpus scalars (n_r, n_t, |V|) ride a broadcast 1-row nested
    // loop; the |V|-sized vocab likelihood table joins on the token key —
    // a web-scale vocab must never force a cartesian
    assert(!plan.contains("CartesianProduct"),
      "DSIR scoring went cartesian:\n" + plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "corpus scalars should broadcast as a 1-row frame:\n" + plan.take(1200))
  }

  test("shard manifest folds its checksum in one hash agg — no global sort") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val m = graft.pipeline.TextAnalysis.shardManifest(docs, nShards = 8)
    m.collect()
    val plan = planOf(m)
    // bit_xor commutes: the digest must come out of a (map-side-combinable)
    // hash aggregate keyed on the shard, with the only sort the per-shard
    // window's local one — never a collect_list or a global order
    assert(plan.contains("HashAggregate"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("collect_list"), "manifest materializes doc lists")
  }

  // The three round-plan guards below pin the physical shape of a loop
  // superstep (Pregelix's join-plus-group-by plan) as each loop's round
  // `materialize` execution runs it. The r12 captures they replace are
  // under plans/r12/*_after.txt.

  test("Louvain round plan: no literal-keyed exchange, at most 3 state exchanges (single run, under the gate)") {
    // two 4-cliques joined by one edge: one run, nState far under the gate
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val g = wGraphOf((k4a ++ k4b :+ ((4L, 11L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    val rounds = roundPlans("max_by(") {
      graft.algos.Community.louvain(g, maxLevel = 1)._1.collect()
    }
    val literalKey = """hashpartitioning\(\d""".r
    rounds.foreach { plan =>
      // a single-run level's `run` is lit(0); a cache keyed on it folds to
      // hashpartitioning(0, src, N), which no (run, …) clustering accepts,
      // so every round would re-exchange the whole candidate stream
      assert(literalKey.findFirstIn(plan).isEmpty,
        "a literal-keyed exchange is back in the Louvain round:\n" + plan)
      // the two nState-row sides of the state ⋈ best-move join and the
      // community-total window inside the broadcast build — nothing over
      // the cached stream
      val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
      assert(exchanges <= 3, s"$exchanges ENSURE_REQUIREMENTS exchanges in the Louvain round:\n$plan")
    }
  }

  test("spectral balancedCut matvec broadcasts the v state — no sort-merge join") {
    val k5a = for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)
    val k5b = for (i <- 10L until 15L; j <- i + 1 until 15L) yield (i, j)
    val g = wGraphOf((k5a ++ k5b :+ ((4L, 10L))).map { case (a, b) => (a, b, 1.0) },
      directed = false)
    val rounds = roundPlans("sum((w#") {
      graft.algos.Spectral.balancedCut(g, k = 2, maxIter = 3).collect()
    }
    rounds.foreach { plan =>
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        "the matvec's v attach left the broadcast:\n" + plan)
    }
  }

  test("BFS and SSSP rounds attach the frontier to the edge scan with a broadcast join") {
    // a path with a chord: several frontier rounds, state far under the gate
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (2L, 5L))
    val g = graphOf(es).symmetrized
    val wg = wGraphOf(es.map { case (a, b) => (a, b, 1.0 + a) }).symmetrized
    // the frontier attach is the round's only inner join, keyed on src
    val attach = """Join \[src#\d+L?\], \[src#\d+L?\], Inner""".r
    Seq[(String, () => Unit)](
      "bfs" -> (() => graft.algos.Traversal.bfs(g, 1L).collect()),
      "sssp" -> (() => graft.algos.Traversal.sssp(wg, 1L).collect())
    ).foreach { case (name, run) =>
      val rounds = roundPlans(", Inner")(run())
      assert(rounds.size >= 3, s"$name ran ${rounds.size} frontier rounds")
      rounds.foreach { plan =>
        val joins = plan.linesIterator.filter(l => attach.findFirstIn(l).nonEmpty).toSeq
        assert(joins.nonEmpty && joins.forall(_.contains("BroadcastHashJoin")) &&
          !joins.exists(_.contains("SortMergeJoin")),
          s"the $name frontier attach left the broadcast:\n" + plan)
      }
    }
  }

  test("bipartiteBatch step broadcasts the nbrMin attach — no sort-merge join") {
    val even = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), directed = false)
    val odd = graphOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)), directed = false)
    val rounds = roundPlans("min(struct(ml") {
      Structure.bipartiteBatch(Seq("even" -> even, "odd" -> odd))
    }
    rounds.foreach { plan =>
      val attach = plan.linesIterator.filter(_.contains("LeftOuter")).toSeq
      assert(attach.nonEmpty && attach.forall(_.contains("BroadcastHashJoin")) &&
        !plan.contains("SortMergeJoin"),
        "the bipartite step's nbrMin attach left the broadcast:\n" + plan)
    }
  }

  test("k-truss incremental rounds on the RMAT fixture broadcast del into the seed joins") {
    // the q_ktruss_rmat call; its incremental rounds are the ones whose plan
    // seeds wedges (the closing-edge column cu), the bulk rounds recompute
    val rounds = roundPlans("cu#") {
      graft.algos.Triangles.kTrussWithRounds(Fixtures.rmatGraph(spark), k = 5)._1.collect()
    }
    // the seed joins: del ⋈ the live edges on one triangle vertex
    val seed = """Join \[[ab]#\d+L?\], \[[ab]#\d+L?\], Inner""".r
    rounds.foreach { plan =>
      val joins = plan.linesIterator.filter(l => seed.findFirstIn(l).nonEmpty).toSeq
      assert(joins.nonEmpty && joins.forall(_.contains("BroadcastHashJoin")) &&
        !joins.exists(_.contains("SortMergeJoin")),
        "a k-truss seed join left the broadcast:\n" + plan)
    }
  }

  test("Boruvka rounds attach the component map to the edge table with a broadcast join") {
    // a 12-cycle with distinct weights: several merge rounds
    val g = wGraphOf((0L until 12L).map(i => (i, (i + 1) % 12, 1.0 + (i * 7) % 12)),
      directed = false)
    val rounds = roundPlans("NOT (c_src#") {
      graft.algos.TreeDag.boruvkaMst(g).collect()
    }
    assert(rounds.size >= 2, s"${rounds.size} Boruvka rounds")
    // the cross-edge filter marks the round plan; canon ⋈ comp, once per endpoint
    val attach = """Join \[(src|dst)#\d+L?\], \[(src|dst)#\d+L?\], Inner""".r
    rounds.foreach { plan =>
      val joins = plan.linesIterator.filter(l => attach.findFirstIn(l).nonEmpty).toSeq
      assert(joins.size >= 2 && joins.forall(_.contains("BroadcastHashJoin")),
        "a Boruvka comp attach left the broadcast:\n" + plan)
    }
  }
}
