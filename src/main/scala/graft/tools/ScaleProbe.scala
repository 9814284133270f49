package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, GraphProperties, Gr}
import graft.algos._
import graft.gen.Generators
import graft.prims.Mat._

/** Round-close scale probe — the institutionalized form of the r6 lesson
  * (the Louvain window-fill regression was invisible at sf0.1 and cost
  * 3.6×/level at RMAT scale 20; a probe caught it, so the probe is now a
  * command, not a habit).
  *
  * Usage: ScaleProbe <family>[,family...] [scale] [edgefactor] [cpus] [parts]
  * Families: community | traversal | pagerank | sampling | similarity |
  * structure | leiden | truss | kcore | walks | simcapped | spectral |
  * fa2 | luby | all. Runs each family's representative operators on an RMAT
  * scale-`scale` graph (default 20 ≈ 16M edges at ef 16) and prints ONE
  * JSON line per run: paste the row into BASELINE.md's scale-probe table
  * before round close for the families the session touched.
  *
  * `parts` (shuffle partitions) defaults to edges/500k clamped to
  * [cpus, 1024] — the r8 scale-22 probe OOM'd the graph-build dedup agg at
  * parts=cpus=32 (67M edges / 32 = 2.1M rows per agg task × 32 concurrent
  * tasks racing an 8g-heap ~150MB/task execution budget; a 2M-entry dedup
  * hash map needs ~2× that). ~500k rows/task keeps the map inside the
  * budget with margin, and leaves scale ≤20 at the historical 32 (rows
  * comparable across rounds). Sizing partitions to the DATA, not the core
  * count, is the same rule a 100 TB deployment applies; pass an explicit
  * value to probe a specific configuration.
  */
object ScaleProbe {
  import Gr._

  def main(args: Array[String]): Unit = {
    val families = (if (args.nonEmpty) args(0) else "all").split(",").toSet
    val scale = if (args.length > 1) args(1).toInt else 20
    val edgefactor = if (args.length > 2) args(2).toInt else 16
    val cpus = if (args.length > 3) args(3) else "32"
    // Width is sized to the LARGEST intermediate, not the raw edge count:
    // the undirected build's symmetrize unions the edge list with its
    // reverse before the dedup agg, so the widest frame is ~4× the
    // generated edges (r9: parts sized on raw 67M gave 2M-row dedup tasks
    // at scale 22 — the same agg shape that OOM'd the r8 build at 8g).
    val parts = if (args.length > 4) args(4) else
      math.min(2048L, math.max(cpus.toLong,
        ((1L << scale) * edgefactor * 4) / 500000L)).toString
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      // iterative probes generate tens of GB of shuffle files per round;
      // their deletion waits on ContextCleaner → driver GC. The default
      // 30min periodic GC lets scratch accumulate across a whole probe —
      // the scale-22 ecg4 run filled the disk before its first cleanup.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // zstd shuffle/spill compression: ~2× denser than the lz4 default on
      // these wide integral rows — the scale-22 ecg4 probe's bound is
      // shuffle SCRATCH (a ~45 GB live round on an 80 GB volume), and
      // zstd is the standard production codec at data scale anyway
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def want(f: String) = families.contains("all") || families.contains(f)
    var label = ""
    def time(f: => Unit): Double = {
      System.err.println(s"[probe] start $label")
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[probe] $label t=$dt%.1fs")
      dt
    }
    def item(name: String)(f: => Unit): (String, Double) = {
      // Nudge the cleaner BETWEEN items: probe items share one JVM, and a
      // heavy item inherits the previous items' not-yet-reclaimed caches,
      // broadcasts and shuffle structures — the r9 scale-22 run had wcc
      // OOM a 32g heap after betweenness/hits, then complete clean in a
      // fresh JVM (582s). Items are independent measurements; an explicit
      // GC makes the heap state at item start round-reproducible.
      System.gc()
      label = name; (name, time(f))
    }

    val numEdges = (1L << scale) * edgefactor
    // graph fixture built lazily: a pipeline-only probe run skips the
    // multi-minute RMAT build entirely
    lazy val g: PropertyGraph = {
      val raw = Generators.rmat(spark, scale, numEdges, fastHash = true)
        .select(SRC, DST)
      val und = Structure.canonicalize(raw).withColumn(WEIGHT, lit(1.0)).mat
      val sym = Structure.symmetrize(und).mat
      val verts = Structure.extractVertexList(und).mat
      val pg = PropertyGraph(verts, sym,
        GraphProperties(directed = false, weighted = true))
      pg.edges.count()
      pg
    }
    lazy val verts = g.vertices

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Force the graph fixture OFF every item's clock: whichever family ran
    // first was otherwise charged the multi-minute RMAT build (rows were
    // incomparable across family subsets — the r9 structure-only wcc row
    // carried the build, the traversal-first runs didn't). The build wall
    // is printed as its own line instead.
    if ((families -- Set("pipeline", "ann", "scc")).nonEmpty) {
      label = "graph_build"
      val bt = time { g; verts }
      System.err.println(f"[probe] graph fixture build t=$bt%.1fs (off-item)")
    }
    if (want("pipeline")) {
      // Corpus scale probe: the sf0.1 documents table replicated
      // 2^(scale-17)× (scale 22 → 32× ≈ 3M docs), every token salted with
      // the replica index so each replica reproduces the fixture's
      // internal near-dup density WITHOUT creating cross-replica dup
      // pairs — candidate volume then scales linearly with the corpus,
      // which is the property a 100 TB near-dup pass must have.
      import graft.pipeline.Dedup
      val reps = math.max(1, 1 << math.max(0, scale - 17))
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val docs = docs0.select(col("doc_id"), col("text"))
        .crossJoin(spark.range(reps).select(col("id").as("rep")))
        .select((col("doc_id") * reps + col("rep")).as("doc_id"),
          // \u0001 separator: bare concat collides across replicas once
          // reps >= 10 ('foo1'+rep 2 == 'foo'+rep 12), creating spurious
          // cross-replica dup pairs the probe's contract forbids
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("\u0001"), col("rep").cast("string"))), " ").as("text"))
      import graft.prims.Mat._
      // The replicated corpus INHERITS the one-partition layout of the
      // single source file through the broadcast cross join — so every
      // pre-shuffle per-doc compute (shingles × minhash kernels) would run
      // on ONE core no matter how large reps is (measured: lsh_pairs at
      // reps=512 pinned 1.4 cores for 9+ minutes before this repartition;
      // the r8 streaming drain autopsy in BASELINE.md found the identical
      // defect). Same rule as everywhere else this round: partition by
      // POST-operation volume, ~20k docs per task here since per-doc text
      // work is orders heavier than the integral graph kernels' per-row
      // cost.
      val docsM = docs
        .repartition(math.max(cpus.toInt, reps * 5000 / 20000), col("doc_id"))
        .mat
      System.err.println(s"[probe] pipeline corpus rows=${docsM.count()} (reps=$reps) parts=${docsM.rdd.getNumPartitions}")
      results += item("dedup_exact")(Dedup.exact(docsM).count())
      results += item("lsh_pairs")(Dedup.minhashLshPairs(docsM).count())
      results += item("simhash")(Dedup.simhash(docsM).count())
    }
    if (want("traversal")) {
      val src = verts.agg(min(ID)).first().getLong(0)
      results += item("bfs")(Traversal.bfs(g, src).count())
      results += item("sssp")(Traversal.sssp(g, src).count())
    }
    if (want("pagerank")) {
      results += item("pagerank10")(PageRank.runFixed(g, iters = 10).count())
    }
    if (want("community") || want("louvain")) {
      results += item("louvain_l1")(
        Community.oneLevelWithRounds(g, maxIter = 3)._1.count())
    }
    if (want("community")) {
      results += item("louvain_full")(
        Community.louvain(g, maxLevel = 2, maxIter = 3)._1.count())
    }
    if (want("community") || want("ecg")) {
      results += item("ecg4")(
        Community.ecg(g, ensembleSize = 4, finalMaxLevel = 1)._1.count())
    }
    if (want("centrality")) {
      // k-sampled Brandes is the representative: each seed is a full
      // BFS-forward + dependency-backward pass, so k=4 probes the level
      // loops at data scale without the k×diameter job count a default-k
      // run would schedule. hits exercises the normalized double-power
      // iteration (bounded 20 iters — wall proportionality, not
      // convergence, is what the probe measures).
      results += item("betweenness_k4")(
        Centrality.betweenness(g, k = Some(4)).count())
      results += item("hits20")(Centrality.hits(g, maxIter = 20).count())
    }
    if (want("structure") || want("wcc")) {
      results += item("wcc")(Components.wcc(g).count())
    }
    if (want("structure") || want("corenum")) {
      // the h-index fixpoint, the engine's one core-number path: a
      // full-range peel is O(#distinct core values × cascade)
      // shrinking-frame rounds — measured >100 min at scale 22 without
      // finishing — while the h-index sweep is O(tens) of full-frame
      // rounds. kCore peels at its single level k only.
      results += item("core_number_hindex")(
        Components.coreNumberHIndex(g)._1.count())
    }
    if (want("scc")) {
      // the directed fixture: the RAW deduped RMAT edge list, direction
      // preserved. NOT canonicalize (src<dst ordering makes every edge go
      // low->high id — a DAG with no nontrivial SCC, where the trim loop
      // does all the work and the coloring kernel is never exercised) and
      // NOT the symmetric graph (scc would degenerate to wcc). Raw RMAT is
      // the web-bowtie shape — a giant SCC plus acyclic periphery — which
      // is the workload scc's trim + capped-coloring structure exists for.
      val rawD = Generators.rmat(spark, scale, numEdges, fastHash = true)
        .select(SRC, DST).distinct().withColumn(WEIGHT, lit(1.0)).mat
      val gd = PropertyGraph(Structure.extractVertexList(rawD).mat, rawD,
        GraphProperties(directed = true, weighted = true))
      gd.edges.count()
      results += item("scc")(Components.scc(gd).count())
    }
    if (want("ann")) {
      // Embedding-family probe: the sf0.1 embeddings table (2000 × 64-dim)
      // replicated 2^(scale-11)× with salted vec_ids (scale 20 → 512× ≈
      // 1.02M vectors). Each replica is JITTERED with a small deterministic
      // per-(rep, dim) offset (~0.2% of component scale): exact copies made
      // the corpus have only 2000 distinct points, so k-means geometry was
      // tie-ridden — the degenerate form that exposed the first-n-by-id
      // seeding collapse (fixed in Ann.seedSelect), but ALSO an unrealistic
      // workload. Jittered replicas form tight near-dup clusters (the shape
      // a real crawl corpus has) while cell populations still scale
      // linearly with reps, keeping knnGraph's candidate volume at the
      // designed N·√N when nlist ≈ √N.
      import graft.pipeline.Ann
      val reps = math.max(1, 1 << math.max(0, scale - 11))
      val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val nVec = 2000L * reps
      val nlist = math.max(16, math.sqrt(nVec.toDouble).toInt)
      // same rule as the pipeline corpus: the replicated frame inherits the
      // single source file's partitioning through the broadcast cross join;
      // repartition by POST-replication volume (~50k vectors/task — the
      // per-row work here is a 64-dim dot × nlist, far heavier than an
      // integral graph row)
      val emb = emb0.select(col("vec_id"), col("embedding"))
        .crossJoin(spark.range(reps).select(col("id").as("rep")))
        .select((col("vec_id") * reps + col("rep")).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            (x, i) => x + (pmod(xxhash64(col("rep"), i, lit("jit")), lit(2001))
              .cast("double") - 1000.0) * 2e-6).as("embedding"))
        .repartition(math.max(cpus.toInt, (nVec / 50000L).toInt), col("vec_id"))
        .mat
      System.err.println(s"[probe] ann corpus vectors=${emb.count()} (reps=$reps) nlist=$nlist parts=${emb.rdd.getNumPartitions}")
      val queries = emb0.select(col("vec_id"), col("embedding"))
        .orderBy("vec_id").limit(64)
      results += item("ivf_topk")(
        Ann.ivfTopK(emb, queries, k = 10, nlist = nlist, nprobe = 4).count())
      results += item("pq_adc_topk")(
        Ann.pqTopK(emb, queries, k = 10, m = 8, ksub = 16, iters = 2).count())
      results += item("ivfpq_topk")(
        Ann.ivfPqTopK(emb, queries, k = 10, nlist = nlist, nprobe = 4,
          m = 8, ksub = 16).count())
      results += item("knn_graph")(
        Ann.knnGraph(emb, k = 10, nlist = nlist, iters = 3).count())
    }
    if (want("leiden")) {
      // composed Leiden: Louvain rounds (proven at 22) + the WCC-inside-
      // communities refinement + a final modularity pass — the composition
      // adds two label joins and an intra-community edge filter on top of
      // the two proven kernels, and composition is where partitioning
      // assumptions break, so it gets its own row
      results += item("leiden_full")(
        Community.leiden(g, maxLevel = 2, maxIter = 3)._1.count())
    }
    if (want("truss")) {
      // k=7: on RMAT's power-law shape most edges sit in the tree-like
      // periphery with support < 5, so round 1 deletes the bulk and the
      // incremental rounds then chase the cascade — both regimes of the
      // seeded-wedge maintenance get exercised
      results += item("ktruss7")(Triangles.kTruss(g, k = 7).count())
    }
    if (want("edgesupport")) {
      // the truss wall in isolation: per-edge support (the degree-ordered
      // wedge kernel) is the Σ-wedge pass that dominates every truss
      // regime (54%+ of the r11 walls), so its row sizes that share
      // without paying a full 30-min truss run.
      results += item("edge_support")(Triangles.edgeSupport(g).count())
    }
    if (want("trussinc")) {
      // incremental-only maintenance (bulkRecomputeFrac past 1 can never
      // trigger, so every deleting round takes the seeded-wedge path): set
      // beside `truss`, it prices the bulk-recompute regime against the
      // incremental one on the same graph in the same session
      results += item("ktruss7_inc")(
        Triangles.kTrussWithRounds(g, k = 7, bulkRecomputeFrac = 2.0)._1.count())
    }
    if (want("kcore")) {
      // direct peel at level k (no full core decomposition): the cascade
      // rounds are the primitive the wall-unbounded full peel reuses per
      // level, so this row bounds what a single k-core costs at data scale
      results += item("kcore10")(Components.kCore(g, k = 10).count())
    }
    if (want("walks")) {
      val starts = verts.orderBy(ID).limit(65536)
        .select(col(ID).as("walk_id"), col(ID).as("vertex")).mat
      starts.count()
      // Walk loops are latency-bound (per-step scheduler floor dominates),
      // and the r10 A/B postscript measured 2.8× same-binary single-run
      // variance on them — the least trustworthy rows in the ledger. Every
      // walk row is therefore MEDIAN OF 3 in one session (VERDICT r10
      // item #4), with lo/hi riding the artifact so the spread is stated,
      // not caveated.
      def med3(name: String)(f: => Unit): Unit = {
        val ts = (1 to 3).map { i => System.gc(); label = s"$name#$i"; time(f) }
        val s = ts.sorted
        results += (name -> s(1))
        results += (s"${name}_lo" -> s(0))
        results += (s"${name}_hi" -> s(2))
      }
      med3("uniform_walks10")(
        graft.sampling.Walks.uniform(g.edges, starts, maxDepth = 10).count())
      med3("biased_walks10")(
        graft.sampling.Walks.biased(g.weightedEdges, starts, maxDepth = 10).count())
      med3("node2vec10")(
        graft.sampling.Walks.node2vec(g.weightedEdges, starts, maxDepth = 10).count())
    }
    if (want("simcapped")) {
      // All-pairs similarity at graph scale is OUTPUT-bound, not (only)
      // compute-bound: the first r10 attempt ran the full df-capped kernel
      // (cap 16 — wedge stream bounded at 16·2E) and still filled an 80 GB
      // shuffle volume, because the candidate PAIR set of a scale-20 RMAT
      // is itself billions of rows no matter how cheaply each pair is
      // found. That is the SURVEY §7.4 warning made concrete: production
      // all-pairs runs over a bounded candidate set (LSH buckets, top-k
      // windows, explicit pairs). This row measures the per-pair kernel on
      // ~1M hash-sampled 2-hop candidate pairs — the bounded shape a
      // 100 TB similarity pass actually ships.
      val rc = g.edges.select(col(SRC).as("m"), col(DST).as("n"))
        .join(g.edges.groupBy(col(SRC).as("m")).agg(count(lit(1)).as("dm"))
          .filter(col("dm") <= 16).select("m"), Seq("m"))
      val pairs = rc.toDF("m", "na").join(rc.toDF("m", "nb"), Seq("m"))
        .filter(col("na") < col("nb"))
        .filter(pmod(xxhash64(col("na"), col("nb")), lit(7)) === 0)
        .select(col("na").as("a"), col("nb").as("b")).distinct().mat
      System.err.println(s"[probe] sim candidate pairs=${pairs.count()} (off-item)")
      results += item("jaccard_pairs_sampled")(
        Similarity.forPairs(g, pairs, Similarity.Jaccard).count())
    }
    if (want("spectral")) {
      // deflated-PIC balanced cut: maxIter rounds of W = D⁻¹A application
      // (one edge join + one vertex agg per round) + the driver-side
      // k-means over the 1-d embedding — the PageRank-shaped claim in the
      // ledger, measured instead of inferred
      results += item("spectral_cut4")(Spectral.balancedCut(g, k = 4).count())
    }
    if (want("fa2")) {
      // two-level quadtree repulsion + edge attraction, 5 rounds over the
      // V-row position frame
      results += item("fa2_5iters")(Misc.forceAtlas2(g, iters = 5).count())
    }
    if (want("luby")) {
      // the three Luby-style randomized-round kernels: rand-priority +
      // min/max-neighbor aggregate per round
      results += item("mis")(Misc.mis(g).count())
      results += item("coloring")(Misc.vertexColoring(g).count())
      results += item("matching3")(Misc.weightedMatching(g, rounds = 3).count())
    }
    if (want("colorfast")) {
      // speculative hash-init + conflict repair — the scale-viable coloring
      // strategy vs the 2342.8s repeated-MIS structural wall at scale 20.
      // initColors sized to the power-law core (RMAT max truss ~13): too
      // few initial colors just means more first-round conflicts.
      results += item("coloring_fast") {
        val (labels, nColors, rounds) =
          Misc.fastColoringWithStats(g, initColors = 16, maxRounds = 100)
        val n = labels.count()
        System.err.println(
          s"[probe] coloring_fast colors=$nColors repairRounds=$rounds rows=$n")
      }
    }
    if (want("centrality2")) {
      // the last inferred-only ledger rows (VERDICT r10 item #7):
      // eigenvector = 20 fixed power-iteration rounds (tol<=0 → no
      // convergence job), degree centrality = one agg pass
      results += item("eigenvector20")(
        Centrality.eigenvector(g, maxIter = 20, tol = -1.0).count())
      results += item("degree_centrality")(
        Centrality.degreeCentrality(g).count())
    }
    if (want("tree") || want("mst")) {
      // deterministic pseudo-random weights: the fixture's uniform 1.0
      // weights would make every edge minimal (ties decide everything),
      // while a hash-mixed weight distribution is what Borůvka's
      // per-component min-by rounds actually contend with
      val we = g.edges.withColumn(WEIGHT,
        (pmod(xxhash64(col(SRC), col(DST)), lit(1000000)) + lit(1)).cast("double") / 1000.0)
      val gw = PropertyGraph(g.vertices, we.mat,
        GraphProperties(directed = false, weighted = true))
      results += item("mst_boruvka")(TreeDag.boruvkaMst(gw).count())
    }
    if (want("similarity")) {
      // triangles only: all-pairs similarity is wedge-quadratic in hub
      // degree — on an RMAT power-law graph at scale 20 that is the
      // workload the df-capped kernels exist to avoid, not a probe
      results += item("triangles")(Triangles.countPerVertex(g).count())
    }
    if (want("sampling")) {
      val seeds = verts.orderBy(ID).limit(64)
        .select(col(ID).as("batch_id"), col(ID).as("vertex")).mat
      results += item("neighbor_sample")(
        graft.sampling.NeighborSampling.homogeneous(
          g.edges, seeds, fanouts = Seq(10, 10)).count())
      results += item("sample_compress")(
        graft.sampling.NeighborSampling.compressSampledOffsets(
          graft.sampling.NeighborSampling.renumberSampled(
            graft.sampling.NeighborSampling.homogeneous(
              g.edges, seeds, fanouts = Seq(10, 10)))).count())
    }
    val qs = results.map { case (k, v) => s""""$k":${math.round(v * 10) / 10.0}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","families":"${families.mkString("+")}","scale":$scale,"edgefactor":$edgefactor,"cpus":$cpus,"parts":$parts,"queries":$qs}""")
    spark.stop()
  }
}
