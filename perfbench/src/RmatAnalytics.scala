package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Gr, GraphBuilder, PropertyGraph, Renumber, Structure}
import graft.algos.{Community, Components, PageRank, Traversal}
import graft.prims.{Iterate, Release}
import graft.sampling.NeighborSampling

/** Power-law RMAT graph with string vertex ids: renumbered build, then
  * BFS, SSSP, WCC, PageRank, one Louvain level and neighbour sampling,
  * each result mapped back to the input ids. Few rounds, each moving much
  * of the edge set over skewed keys, so `core` and `algos` are loaded by
  * data volume. */
object RmatAnalytics extends Workload {
  import Gr._
  val name = "rmat_analytics"
  val Scale = 12
  val EdgeFactor = 16
  val SsspCutoff = 6.0
  val PageRankIters = 3
  val Fanouts = Seq(10, 5)
  val SeedsPerBatch = 16
  val Batches = 4

  def instance(spark: SparkSession, dataDir: File, seed: Long, reduced: Boolean): Instance = {
    val scale = if (reduced) Scale - 3 else Scale
    val data = Inputs.rmat(scale, EdgeFactor, seed)
    val dir = new File(dataDir, s"$name-s$scale-$seed")
    Inputs.write(spark, dir, Inputs.edgeSchemaStr, data.src.indices.map(i =>
      Row(Inputs.vid(data.src(i)), Inputs.vid(data.dst(i)), data.w(i))))
    val a = data.adj
    // traversal source: a seeded vertex of the largest component
    val comp = Oracles.components(data.n, data.src.indices.map(i => (data.src(i), data.dst(i))))
    val present = (0 until data.n).filter(a.degree(_) > 0)
    val giant = present.groupBy(comp(_)).maxBy(_._2.size)._2
    System.err.println(s"[perfbench] graph ${dir.getName}: vertices=${present.size} edges=${data.numEdges}")
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val source = giant(rnd.nextInt(giant.size))
    val seeds = Inputs.pick(present, Batches * SeedsPerBatch, rnd)
    new Instance {
      def setup(tr: Tracer): Built = {
        val raw = spark.read.parquet(dir.getPath)
        val g = tr.span("core.build") {
          val g = GraphBuilder.fromEdgesRenumbered(raw, Seq("src"), Seq("dst"), Some("w"),
            directed = false)
          g.renumberMap.get.persist(StorageLevel.MEMORY_AND_DISK).count()
          g.cache()
          g.vertices.count()
          g.edges.count()
          g
        }
        new RmatBuilt(spark, tr, raw, g, data, source, seeds)
      }
    }
  }

  private final class RmatBuilt(spark: SparkSession, tr: Tracer, raw: DataFrame,
                                g: PropertyGraph, data: GraphData, source: Int,
                                seeds: Seq[Int]) extends Built {
    private val map = g.renumberMap.get
    private lazy val toExt: Long => Int = {
      val m = scala.collection.mutable.LongMap[Int]()
      map.collect().foreach(r => m(r.getAs[Long](INT_ID)) = Inputs.unVid(r.getString(0)))
      m
    }
    private var toInt: Map[Int, Long] = Map.empty
    private val nPresent = (0 until data.n).count(data.adj.degree(_) > 0)

    private def unrenumbered(df: DataFrame, cols: String*): DataFrame =
      tr.span("core.unrenumber") {
        val out = cols.foldLeft(df)((d, c) => g.unrenumber(d, c))
        Workload.noop(out)
        out
      }

    /** Rows of `df` keyed by the input vertex index of `id`. */
    private def byVertex(df: DataFrame): Map[Int, Row] =
      df.collect().map(r => Inputs.unVid(r.getAs[String](ID)) -> r).toMap

    def ops: Seq[Op] = Seq(
      Op("core.lookup", () => {
        val want = (source +: seeds).distinct.map(Inputs.vid)
        toInt = map.filter(col("ext_0").isin(want: _*)).collect()
          .map(r => Inputs.unVid(r.getString(0)) -> r.getAs[Long](INT_ID)).toMap
        Check {
          val m = new Oracles.Mismatches("core.lookup")
          m(toInt.size == want.size, s"found ${toInt.size} of ${want.size} ids")
          toInt.foreach { case (v, i) => m(toExt(i) == v, s"id $i maps to ${toExt(i)}, want $v") }
          m.result
        }
      }),
      Op("algos.bfs", () => {
        val out = unrenumbered(Traversal.bfs(g, toInt(source)), ID)
        Check {
          val m = new Oracles.Mismatches("algos.bfs")
          val want = Oracles.bfs(data.adj, source)
          val got = byVertex(out)
          m(got.size == want.count(_ >= 0), s"reached ${got.size}, want ${want.count(_ >= 0)}")
          got.foreach { case (v, r) =>
            val d = r.getAs[Int]("distance")
            m(d == want(v), s"distance of $v is $d, want ${want(v)}")
            val p = r.getAs[Long]("predecessor")
            m(if (d == 0) p == -1L else want(toExt(p)) == d - 1, s"predecessor of $v")
          }
          m.result
        }
      }),
      Op("algos.sssp", tracedOnly = true, run = () => {
        val (r, rounds) = Traversal.ssspWithRounds(g, toInt(source), SsspCutoff)
        tr.note("algos.sssp.rounds", rounds)
        val out = unrenumbered(r, ID)
        Check(Oracles.distances("algos.sssp", Oracles.dijkstra(data.adj, source, SsspCutoff),
          out.collect().toSeq.map(r => (Inputs.unVid(r.getAs[String](ID)), r.getAs[Double]("distance")))))
      }),
      Op("algos.wcc", () => {
        val (r, rounds) = Components.wccWithRounds(g)
        tr.note("algos.wcc.rounds", rounds)
        val out = unrenumbered(r, ID)
        Check {
          val m = new Oracles.Mismatches("algos.wcc")
          val want = Oracles.components(data.n, data.src.indices.map(i => (data.src(i), data.dst(i))))
          val got = byVertex(out).map { case (v, r) => v -> r.getAs[Long]("component") }
          m(got.size == nPresent, s"labelled ${got.size}, want $nPresent")
          // same partition: each label maps to one oracle root and back
          val pairs = got.toSeq.map { case (v, l) => (l, want(v)) }.distinct
          m(pairs.map(_._1).distinct.size == pairs.size && pairs.map(_._2).distinct.size == pairs.size,
            "partition differs from union-find")
          m.result
        }
      }),
      Op("algos.pagerank", () => {
        val out = unrenumbered(PageRank.runFixed(g, PageRankIters), ID)
        Check {
          val m = new Oracles.Mismatches("algos.pagerank")
          val present = Array.tabulate(data.n)(data.adj.degree(_) > 0)
          val want = Oracles.pagerank(data.adj, present, PageRankIters)
          val got = byVertex(out).map { case (v, r) => v -> r.getAs[Double]("pagerank") }
          m(got.size == present.count(identity), s"ranked ${got.size}")
          val l1 = got.map { case (v, p) => math.abs(p - want(v)) }.sum
          m(l1 < 1e-9, s"L1 distance $l1")
          m.result
        }
      }),
      Op("algos.louvain", tracedOnly = true, run = () => {
        val (labels, q, levels) = Community.louvainWithLevels(g, maxLevel = 1)
        tr.note("algos.louvain.levels", levels)
        val out = unrenumbered(labels, ID)
        Check {
          val m = new Oracles.Mismatches("algos.louvain")
          val got = out.collect().map(r => Inputs.unVid(r.getAs[String](ID)) -> r.getAs[Long]("louvain"))
          val label = got.toMap
          m(got.length == label.size, "a vertex has two labels")
          m(label.size == nPresent, s"labelled ${label.size}, want $nPresent")
          if (label.size == got.length) {
            val mine = Oracles.modularity(data, label)
            m(math.abs(mine - q) < 1e-9, s"modularity $q, recomputed $mine")
          }
          m.result
        }
      }),
      Op("sampling.neighbor", () => {
        val seedRows = seeds.zipWithIndex.map { case (v, i) => (i / SeedsPerBatch, toInt(v)) }
        val sd = spark.createDataFrame(seedRows).toDF("batch_id", "vertex")
        val out = unrenumbered(NeighborSampling.homogeneous(g.edges, sd, Fanouts, seed = 7L), SRC, DST)
        Check(checkSample(out.collect().toSeq))
      })
    ) ++ Workload.primOps(g, data, () => toExt)

    /** Every sampled edge exists; each frontier vertex of hop h got exactly
      * min(degree, fanout h) distinct neighbours; hop 0 starts at the
      * batch's seeds and hop h + 1 at hop h's destinations. */
    private def checkSample(rows: Seq[Row]): Seq[String] = {
      val m = new Oracles.Mismatches("sampling.neighbor")
      val a = data.adj
      val edges = data.src.indices.flatMap(i => Seq((data.src(i), data.dst(i)), (data.dst(i), data.src(i)))).toSet
      val parsed = rows.map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("hop").toInt,
        Inputs.unVid(r.getAs[String](SRC)), Inputs.unVid(r.getAs[String](DST))))
      parsed.foreach { case (b, h, u, v) => m(edges.contains((u, v)), s"edge $u-$v in batch $b hop $h") }
      for (b <- 0 until Batches) {
        var frontier = seeds.slice(b * SeedsPerBatch, (b + 1) * SeedsPerBatch).toSet
        Fanouts.zipWithIndex.foreach { case (f, h) =>
          val hop = parsed.filter(x => x._1 == b && x._2 == h)
          val bySrc = hop.groupBy(_._3)
          m(bySrc.keySet == frontier, s"batch $b hop $h sources")
          bySrc.foreach { case (u, xs) =>
            m(xs.map(_._4).distinct.size == xs.size && xs.size == math.min(a.degree(u), f),
              s"batch $b hop $h vertex $u sampled ${xs.size}")
          }
          frontier = hop.map(_._4).toSet
        }
      }
      m.result
    }

    override def pieces(tr: Tracer): Unit = {
      val ren = tr.span("core.renumber") {
        Iterate.materialize(Renumber.renumberEdges(raw, Seq("src"), Seq("dst"), Seq("w"))._1)
      }
      tr.span("core.symmetrize") {
        Workload.noop(Structure.symmetrize(
          ren.select(col(SRC), col(DST), col("w").cast("double").as(WEIGHT))))
      }
      Release.free(ren)
    }
  }
}
