package graft

import graft.prims.Mat._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.TimeUnit
import scala.concurrent.duration.FiniteDuration
import graft.core.{PropertyGraph, GraphBuilder, GraphProperties, Structure, Gr}

/** Graph projections over the driver-provided TPC-H-ish parquet tables
  * (TESTDATA.md / FIXTURES.md §4). Each projection is defined so the DuckDB
  * oracle can reconstruct the identical edge list with plain SQL.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

object StreamTables {
  /** The driver table as a Structured-Streaming file source. The testdata
    * tables are single parquet FILES, but the streaming file source only
    * lists directories — so stream the parent dir with a glob filter
    * pinned to the one table. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.readStream
      .schema(Tables(spark, dir, name).schema)
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir)
}

object Fixtures {
  import Gr._

  /** Session-scoped cache of materialized fixture DataFrames. Verify/Bench
    * run many queries over the same graph projections in one session; the
    * reference likewise benchmarks algorithms on a PREBUILT graph
    * (`bench_algos.py` benches `create_graph` separately from the algos), so
    * graph construction is paid once, not per query. `Iterate.materialize`
    * keeps the result partition-local with reset plan statistics. */
  // Session keys (ADVICE r11): identityHashCode could collide after an old
  // session is GC'd and serve frames bound to a stopped SparkContext. A
  // UUID minted once into the session's (session-scoped) runtime conf is
  // unique for the process lifetime, so a new session never inherits a
  // dead session's entries. (SparkSession.sessionUUID is private[sql].)
  private def sessionKey(spark: SparkSession): String = this.synchronized {
    val k = "graft.internal.session_key"
    spark.conf.getOption(k).getOrElse {
      val u = java.util.UUID.randomUUID().toString
      spark.conf.set(k, u); u
    }
  }
  private val cache = scala.collection.concurrent.TrieMap[(String, String), DataFrame]()
  private def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cache.getOrElseUpdate((sessionKey(spark), key),
      build.mat)

  /** Supplier co-order graph: suppliers appearing in the same order, canonical
    * src<dst, weight = number of shared orders. ~100 vertices at any SF —
    * the small dense fixture for triangle/similarity/PageRank/BFS oracles. */
  def supplierEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"supp:$dir") {
      val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
      val a = li.select(col("l_orderkey"), col("l_suppkey").as(SRC))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as(DST))
      a.join(b, "l_orderkey").filter(col(SRC) < col(DST))
        .groupBy(SRC, DST).agg(count(lit(1)).cast("double").as(WEIGHT))
    }

  /** SQL prelude reconstructing supplierEdges for the DuckDB oracle. */
  val SUPP_EDGES_SQL: String =
    """supp_edges AS MATERIALIZED (
      |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst, CAST(count(*) AS DOUBLE) AS weight
      |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b USING (l_orderkey)
      |  WHERE a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  val SUPP_VERTS_SQL: String =
    "verts AS MATERIALIZED (SELECT src AS id FROM supp_edges UNION SELECT dst FROM supp_edges)"

  /** Symmetrized (both directions) supplier adjacency, for undirected algos. */
  val SUPP_UND_SQL: String =
    "und AS MATERIALIZED (SELECT src, dst, weight FROM supp_edges UNION ALL SELECT dst, src, weight FROM supp_edges)"

  def supplierGraph(spark: SparkSession, dir: String): PropertyGraph = {
    val e = supplierEdges(spark, dir)
    val v = cached(spark, s"supp_verts:$dir")(Structure.extractVertexList(e))
    PropertyGraph(v, e, GraphProperties(directed = true, weighted = true))
  }

  /** Symmetrized supplier graph with cached undirected edges — the fixture
    * most algorithm queries run on. */
  def supplierGraphUnd(spark: SparkSession, dir: String): PropertyGraph = {
    val und = cached(spark, s"supp_und:$dir")(Structure.symmetrize(supplierEdges(spark, dir)))
    val v = cached(spark, s"supp_verts:$dir")(Structure.extractVertexList(supplierEdges(spark, dir)))
    PropertyGraph(v, und, GraphProperties(directed = false, weighted = true))
  }

  /** Customer→supplier bipartite graph (supplier ids offset by 100000 to
    * keep the id spaces disjoint): weight = total extended price. */
  def custSuppEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"custsupp:$dir") {
      val li = Tables(spark, dir, "lineitem")
      val o = Tables(spark, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey").as(SRC), (col("l_suppkey") + 100000L).as(DST))
        .agg(sum("l_extendedprice").as(WEIGHT))
    }

  val CUSTSUPP_EDGES_SQL: String =
    """cs_edges AS MATERIALIZED (
      |  SELECT o_custkey AS src, l_suppkey + 100000 AS dst, sum(l_extendedprice) AS weight
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  def custSuppGraph(spark: SparkSession, dir: String): PropertyGraph =
    GraphBuilder.fromEdges(custSuppEdges(spark, dir), SRC, DST, Some(WEIGHT), directed = true)

  /** Part co-order graph (larger: ~2000 vertices at sf0.01) — parts appearing
    * in the same order. For WCC/community at a bigger scale. */
  def partEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"part:$dir") {
      val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
      val a = li.select(col("l_orderkey"), col("l_partkey").as(SRC))
      val b = li.select(col("l_orderkey"), col("l_partkey").as(DST))
      // the co-order pair stream aggregates on a packed single-long key
      // (part keys are far below 2^31) — same result, cheaper shuffle
      a.join(b, "l_orderkey").filter(col(SRC) < col(DST))
        .select((shiftleft(col(SRC), 32) + col(DST)).as("p"))
        .groupBy("p").agg(count(lit(1)).cast("double").as(WEIGHT))
        .select(shiftright(col("p"), 32).as(SRC),
          col("p").bitwiseAND(lit((1L << 32) - 1)).as(DST), col(WEIGHT))
    }

  val PART_EDGES_SQL: String =
    """part_edges AS MATERIALIZED (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS weight
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  def partGraph(spark: SparkSession, dir: String): PropertyGraph =
    GraphBuilder.fromEdges(partEdges(spark, dir), SRC, DST, Some(WEIGHT), directed = true)

  /** Part co-order graph restricted to REPEAT co-orders (weight ≥ 2): sparse
    * with a non-trivial degree spread at every SF (the full part graph is
    * near-complete in co-order density; the supplier graph IS complete) —
    * the fixture for the hub-capped weighted similarity gate. */
  def partRepeatEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"part_rep:$dir")(partEdges(spark, dir).filter(col(WEIGHT) >= 2))

  val PART_REPEAT_SQL: String =
    "part_rep AS MATERIALIZED (SELECT src, dst, weight FROM part_edges WHERE weight >= 2)"

  def partRepeatGraph(spark: SparkSession, dir: String): PropertyGraph =
    GraphBuilder.fromEdges(partRepeatEdges(spark, dir), SRC, DST, Some(WEIGHT), directed = true)

  /** Directed cyclic fixture for SCC: canonical supplier edges plus the
    * REVERSED copies of edges with weight ≥ 2 (creates 2-cycles → nontrivial
    * strongly connected components). */
  def cyclicSupplierGraph(spark: SparkSession, dir: String): PropertyGraph = {
    val e = cached(spark, s"supp_cyc:$dir") {
      val s = supplierEdges(spark, dir)
      s.select(SRC, DST).union(
        s.filter(col(WEIGHT) >= 2).select(col(DST).as(SRC), col(SRC).as(DST))).distinct()
    }
    PropertyGraph(Structure.extractVertexList(e), e, GraphProperties(directed = true))
  }

  /** Tiny 3-level DAG from the TPC-H hierarchy: region → nation(+100) →
    * supplier(+1000). Deterministic levels 0/1/2 for the topo-sort oracle. */
  def hierarchyDag(spark: SparkSession, dir: String): PropertyGraph = {
    val nation = Tables(spark, dir, "nation")
    val supplier = Tables(spark, dir, "supplier")
    val e1 = nation.select(col("n_regionkey").cast("long").as(SRC),
      (col("n_nationkey") + 100L).cast("long").as(DST))
    val e2 = supplier.select((col("s_nationkey") + 100L).cast("long").as(SRC),
      (col("s_suppkey") + 1000L).cast("long").as(DST))
    val e = e1.union(e2)
    PropertyGraph(Structure.extractVertexList(e), e, GraphProperties(directed = true))
  }

  /** Shared similarity kernel over the supplier graph: per-pair
    * neighborhood-intersection counts + per-vertex degrees, materialized
    * once per session. All four coefficient queries are scalar math over
    * this (the reference shares `detail/similarity_impl.cuh` the same way);
    * recomputing the Σ deg² wedge join per coefficient would quadruple the
    * dominant cost. */
  def supplierSimInter(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"sim_inter:$dir")(
      graft.algos.Similarity.interAndDeg(supplierGraph(spark, dir))._1)
  def supplierSimDeg(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"sim_deg:$dir")(
      graft.algos.Similarity.interAndDeg(supplierGraph(spark, dir))._2)

  /** Weighted similarity kernel (use_weight=True family), shared the same
    * way; nV is cached so scoreFrom never re-counts the degree table. */
  def supplierSimInterW(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"sim_inter_w:$dir")(
      graft.algos.Similarity.interAndDegWeighted(supplierGraph(spark, dir))._1)
  def supplierSimDegW(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"sim_deg_w:$dir")(
      graft.algos.Similarity.interAndDegWeighted(supplierGraph(spark, dir))._2)

  /** Shared Louvain level-1 labels (maxIter=8) on the supplier graph:
    * q_louvain_l1 gates them directly, q_leiden_refine refines them — same
    * deterministic schedule, so one run serves both (the move phase is the
    * family's dominant cost). Rounds and the level's converged flag are
    * cached with the labels so both queries keep their unroll-budget
    * asserts. The labels read the level's materialized final state. */
  private val l1Cache =
    scala.collection.concurrent.TrieMap[(String, String), (DataFrame, Int, Boolean)]()
  def supplierLouvainL1(spark: SparkSession, dir: String): (DataFrame, Int, Boolean) =
    l1Cache.getOrElseUpdate((sessionKey(spark), s"louvain_l1:$dir"),
      graft.algos.Community.oneLevelWithRounds(supplierGraph(spark, dir), maxIter = 8))

  /** Shared Brandes states (k=32 sampled roots) on the supplier graph:
    * q_betweenness and q_betweenness_endpoints are two scoring passes over
    * the SAME forward/backward accumulation (the states ARE the algorithm;
    * endpoints=True only adds two reach aggregations) — one state
    * computation per session, the similarity-kernel sharing rule. NOT in
    * prewarm: q_betweenness (first alphabetical toucher) pays it. */
  private val brandesCache =
    scala.collection.concurrent.TrieMap[(String, String), graft.algos.Centrality.BrandesStates]()
  def supplierBrandes(spark: SparkSession, dir: String): graft.algos.Centrality.BrandesStates =
    brandesCache.getOrElseUpdate((sessionKey(spark), s"brandes:$dir"),
      graft.algos.Centrality.brandesStates(supplierGraph(spark, dir), k = Some(32)))

  private val countCache = scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Drop every cache entry belonging to `spark`'s session and free the
    * stored blocks of the frames it drops ([[graft.prims.Release.free]]).
    * The session TrieMaps are never evicted otherwise, so a process that
    * stops one session and sweeps again in a fresh one (Bench's
    * degraded-rule rerun) would pin the dead session's ~15 materialized
    * fixture frames, the Brandes states and the shared kernel frames for
    * the rest of the JVM — exactly when the rerun needs the heap headroom
    * to re-pay the builds. A later fetch rebuilds the fixture. */
  def evictSession(spark: SparkSession): Unit = {
    val k = sessionKey(spark)
    def evict[V](m: scala.collection.concurrent.TrieMap[(String, String), V])(
        frames: V => Seq[DataFrame]): Unit =
      m.keys.filter(_._1 == k).foreach(key =>
        m.remove(key).foreach(v => graft.prims.Release.free(frames(v): _*)))
    evict(cache)(Seq(_))
    evict(l1Cache)(v => Seq(v._1))
    evict(brandesCache)(b => Seq(b.delta, b.settled, b.verts, b.edges))
    evict(countCache)(_ => Nil)
  }
  def supplierSimNV(spark: SparkSession, dir: String): Long =
    countCache.getOrElseUpdate((sessionKey(spark), s"sim_nv:$dir"),
      supplierSimDeg(spark, dir).count())
  def supplierSimNVW(spark: SparkSession, dir: String): Long =
    countCache.getOrElseUpdate((sessionKey(spark), s"sim_nv_w:$dir"),
      supplierSimDegW(spark, dir).count())

  /** Shared per-edge triangle-support kernel over the supplier graph. The
    * Σ deg² wedge stream is the whole triangle family's dominant cost;
    * per-vertex counts derive from it as Σ(incident supports)/2 (each
    * triangle containing v covers exactly two of v's incident edges), so
    * one materialized kernel serves q_triangles and q_edge_triangles the
    * same way the similarity kernel serves the four coefficients. */
  def supplierEdgeSupport(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"tri_support:$dir")(
      graft.algos.Triangles.edgeSupport(supplierGraph(spark, dir)))

  /** Shared ECG ensemble vote table (ensembleSize=4) over the supplier
    * graph: q_ecg consumes it through reweight+Louvain and q_ecg_votes
    * gates it directly — the 4-run batched ensemble is the family's
    * dominant cost, so it is computed once per session like the similarity
    * kernel. NOT in prewarm: q_ecg (first alphabetical toucher) pays it,
    * which is the correct attribution — the ensemble IS the ECG algorithm,
    * not an input fixture. */
  def supplierEcgVotes(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"ecg_votes:$dir")(
      graft.algos.Community.ecgVotes(supplierGraph(spark, dir), ensembleSize = 4))

  /** Shared LSH candidate pairs with exact-Jaccard scores (n=3, bands=4,
    * rowsPerBand=2, UNthresholded): the one pipeline (shingles → minhash →
    * band join → exact verify) that q_dedup_clusters/q_dedup_keep_best
    * consume at threshold 0.2 (the trailing filter — identical rows to
    * calling minhashLshPairs(threshold=0.2)) and q_edit_dist consumes at
    * threshold 0.0. One mining pass per session (the ecg-votes sharing
    * rule; the first alphabetical toucher pays). */
  /** Shared distinct (doc, 3-gram shingle) frame — the dominant explode +
    * distinct every n=3 text-dedup kernel pays (LSH mining, both
    * ngram-Jaccard variants). One build per session. */
  def documentShingles3(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"shingles3:$dir")(
      graft.pipeline.Dedup.shingleFrame(documents(spark, dir), n = 3))

  def documentLshScored(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"lsh_scored:$dir")(
      graft.pipeline.Dedup.minhashLshPairs(documents(spark, dir),
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.0,
        shinglesPre = Some(documentShingles3(spark, dir))))

  /** Shared LSH near-dup cluster table over the documents corpus
    * (threshold=0.2 over [[documentLshScored]]): q_dedup_clusters gates the
    * table directly and q_dedup_keep_best composes the keep-one selection
    * on top of the SAME pair mining + WCC resolve — one cluster
    * computation per session. */
  def documentDupClusters(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"dup_clusters:$dir") {
      val docs = documents(spark, dir)
      val pairs = documentLshScored(spark, dir).filter(col("jaccard") >= 0.2)
      graft.pipeline.Dedup.resolveClusters(docs, pairs.select("id_a", "id_b"))
    }

  /** Shared duplicated-span table (k=5) over the documents corpus: the
    * mining report (q_dup_spans) and the strip (q_dup_span_strip) consume
    * the same corpus-wide window hash agg — one mining pass per session. */
  def documentDupSpans(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"dup_spans:$dir")(
      graft.pipeline.Dedup.duplicateSpans(documents(spark, dir), k = 5))

  /** Deterministic RMAT(scale 8, 1024 edges, seed 42) graph — SF-independent,
    * with a rich core structure (core values 1..9). The fixture for queries
    * whose oracle must unroll to a data-dependent depth that would not be
    * bounded on the near-complete supplier graph at every scale factor. */
  def rmatGraph(spark: SparkSession): PropertyGraph = {
    val e = cached(spark, "rmat:8:1024")(
      graft.gen.Generators.rmat(spark, scale = 8, numEdges = 1024).select(SRC, DST))
    PropertyGraph(Structure.extractVertexList(e), e, GraphProperties(directed = true))
  }

  /** The k smallest supplier-graph vertex ids — deterministic seeds for
    * walks / sampling / multi-source traversal queries (oracle: ORDER BY id
    * LIMIT k over the vertex list). */
  def seedVertices(spark: SparkSession, dir: String, k: Int): DataFrame =
    Structure.extractVertexList(supplierEdges(spark, dir)).orderBy(ID).limit(k)

  /** Eagerly build every shared cross-query fixture (cached() materializes
    * via eager localCheckpoint, so touching each getter forces the build).
    * Bench calls this BEFORE the per-query clock starts: the reference
    * likewise benches `create_graph` separately from the algorithms, and
    * without this the first query to touch a fixture pays its whole build
    * (q_louvain was charged 69s for ~27s of its own work in the r5 driver
    * bench — the 25M-edge part fixture landed on it). */
  def prewarm(spark: SparkSession, dir: String): Unit = {
    // Base projection almost every fixture shares — built synchronously so
    // the fan-out below never races two builds of the same cache key (a
    // TrieMap race is correct but would orphan one checkpoint's blocks).
    supplierGraph(spark, dir)
    // The remaining builds are INDEPENDENT jobs: submit them from a small
    // thread pool so the next build's tasks back-fill executors freed by
    // the current build's straggler tail (guide §2.6 — actions are only
    // sequential because the driver calls them sequentially). Each chain
    // below owns its cache keys; within a chain order respects dependency
    // (partRepeat after part, the NV counts after their degree tables).
    // Values are untouched: same builds, same keys, deterministic inputs.
    val chains: Seq[(String, () => Unit)] = Seq(
      "supplierGraphUnd" -> (() => { supplierGraphUnd(spark, dir); () }),
      "custSuppEdges" -> (() => { custSuppEdges(spark, dir); () }),
      "partEdges+partRepeatEdges" -> (() => { partEdges(spark, dir); partRepeatEdges(spark, dir); () }),
      "cyclicSupplierGraph" -> (() => { cyclicSupplierGraph(spark, dir); () }),
      "supplierSim" -> (() => { supplierSimInter(spark, dir); supplierSimDeg(spark, dir)
                                supplierSimNV(spark, dir); () }),
      "supplierSimW" -> (() => { supplierSimInterW(spark, dir); supplierSimDegW(spark, dir)
                                 supplierSimNVW(spark, dir); () }),
      "supplierEdgeSupport" -> (() => { supplierEdgeSupport(spark, dir); () }),
      "rmatGraph" -> (() => { rmatGraph(spark); () }))
    // daemon workers: a wedged build cannot keep the JVM alive past its caller
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "graft-prewarm")
      t.setDaemon(true)
      t
    })
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      awaitChains(chains.map { case (name, c) => name -> scala.concurrent.Future(c())(ec) },
        PrewarmTimeout)
    } finally pool.shutdown()
  }

  /** Upper bound on the whole prewarm, far above any build it runs (sf0.1:
    * about 22 s), so only a wedged chain reaches it. */
  private val PrewarmTimeout: FiniteDuration = FiniteDuration(1, TimeUnit.HOURS)

  /** Waits for every named future against one shared deadline, then
    * rethrows the first failure. Draining EVERY future first matters:
    * rethrowing on the first failed await would leave the other chains'
    * Spark jobs running concurrently with the caller's error handling /
    * session stop. A chain still running at the deadline fails by name. */
  private[graft] def awaitChains(fs: Seq[(String, scala.concurrent.Future[Unit])],
                                 timeout: FiniteDuration): Unit = {
    val deadline = timeout.fromNow
    val errs = fs.flatMap { case (name, f) =>
      scala.util.Try(scala.concurrent.Await.result(f, deadline.timeLeft)).failed.toOption.map {
        case _: java.util.concurrent.TimeoutException => new IllegalStateException(
          s"fixture prewarm chain '$name' did not finish within $timeout")
        case e => e
      }
    }
    errs.headOption.foreach(throw _)
  }

  def documents(spark: SparkSession, dir: String): DataFrame = Tables(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = Tables(spark, dir, "embeddings")

  /** Shared IVF k-NN similarity graph over the embeddings table (k=5):
    * q_knn_graph gates the edge list itself, q_knn_components the WCC
    * clusters over it — one k-means + one cell self-join per session. */
  def knnEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"knn:$dir")(
      graft.pipeline.Ann.knnGraph(embeddings(spark, dir), k = 5))

  /** Corpus-trained BPE merge table, cached per (session, dir):
    * q_bpe_train, q_bpe_tokens and q_fertility all consume the same
    * deterministic 5-merge table — train it once per session, exactly as a
    * real pipeline trains a tokenizer once and ships the artifact. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"bpe:$dir") {
      graft.pipeline.Tokenizer.bpeTrain(documents(spark, dir), nMerges = 5)
    }

  /** events.parquet carries a TIMESTAMP(NANOS) column (pandas-written), which
    * Spark's Parquet reader rejects by default — read nanos as raw long. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables(spark, dir, "events")
  }
}
