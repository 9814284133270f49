package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Gr, PropertyGraph}
import graft.prims.{AggregateMessages, Iterate, TopK}

/** One timed operation of a workload's solve. `run` does the work, ending
  * in a write no optimizer can prune, and returns the output check, which
  * the harness calls outside the timed window. A `tracedOnly` op runs in
  * traced passes only, so its cost is reported per layer but stays out of
  * the end-to-end metrics. */
final case class Op(span: String, run: () => Check, tracedOnly: Boolean = false)

/** Output check of one op: the mismatches found, empty when correct. */
trait Check { def apply(): Seq[String] }
object Check {
  def apply(f: => Seq[String]): Check = new Check { def apply(): Seq[String] = f }
}

/** A workload at one seed and size, its inputs already written. */
trait Instance {
  /** Builds the materialized graph or index from the input files. */
  def setup(tr: Tracer): Built
}

/** What [[Instance.setup]] returns: the solve's ops over the built state.
  * The harness drops everything Spark stores after each pass. */
trait Built {
  def ops: Seq[Op]
  /** Traced pass only: re-runs the pieces of setup one at a time, so their
    * costs can be told apart. */
  def pieces(tr: Tracer): Unit = ()
}

trait Workload {
  def name: String
  /** Generates and writes the inputs for `seed`; `reduced` gives the
    * smaller warm-up instance of the same workload. */
  def instance(spark: SparkSession, dataDir: java.io.File, seed: Long, reduced: Boolean): Instance
}

object Workload {
  val all: Map[String, Workload] =
    Seq(RmatAnalytics, CorpusDedup).map(w => w.name -> w).toMap

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Calls straight into the prims layer on a built graph, one op each:
    * a weighted-degree message pass, a materialization, a counted
    * materialization and a per-source top-k. `ext` maps an internal id to
    * its input vertex index; `data` is the graph the inputs came from. */
  def primOps(g: PropertyGraph, data: GraphData, ext: () => Long => Int): Seq[Op] = {
    import Gr._
    val light = 3
    val nLight = 2L * data.w.count(_ <= light)
    Seq(
      Op("prims.agg_to_dst", () => {
        val r = AggregateMessages.toDst(g.edges, g.vertices.select(col(ID), lit(1.0).as("x")),
          col(WEIGHT) * col("x"), sum(_), "wdeg")
        noop(r)
        Check {
          val m = new Oracles.Mismatches("prims.agg_to_dst")
          val want = new Array[Double](data.n)
          for (i <- 0 until data.numEdges) { want(data.src(i)) += data.w(i); want(data.dst(i)) += data.w(i) }
          val rows = r.collect()
          val toExt = ext()
          m(rows.length == (0 until data.n).count(data.adj.degree(_) > 0), s"rows ${rows.length}")
          rows.foreach(x => m(x.getDouble(1) == want(toExt(x.getLong(0))), s"wdeg of ${x.getLong(0)}"))
          m.result
        }
      }),
      Op("prims.materialize", () => {
        val r = Iterate.materialize(g.edges.filter(col(WEIGHT) <= light))
        noop(r)
        Check {
          val m = new Oracles.Mismatches("prims.materialize")
          val n = r.count()
          m(n == nLight, s"rows $n, want $nLight")
          m.result
        }
      }),
      Op("prims.materialize_count", () => {
        val (r, n) = Iterate.materializeCount(g.edges.filter(col(WEIGHT) > light),
          count(lit(1)), _.count())
        noop(r)
        Check {
          val m = new Oracles.Mismatches("prims.materialize_count")
          val want = 2L * data.numEdges - nLight
          m(n == want, s"count $n, want $want")
          m(r.count() == want, "materialized rows")
          m.result
        }
      }),
      Op("prims.topk", () => {
        val k = 3
        val r = TopK.perKey(g.edges, Seq(SRC), Seq(col(WEIGHT).desc, col(DST)), k)
        noop(r)
        Check {
          val m = new Oracles.Mismatches("prims.topk")
          val toExt = ext()
          val got = r.select(SRC, WEIGHT).collect().groupBy(x => toExt(x.getLong(0)))
            .map { case (v, xs) => v -> xs.map(_.getDouble(1).toInt).sorted.toSeq }
          val a = data.adj
          val want = (0 until data.n).filter(a.degree(_) > 0).map { v =>
            v -> (a.off(v) until a.off(v + 1)).map(a.wt(_)).sorted(Ordering[Int].reverse).take(k).sorted
          }.toMap
          m(got.size == want.size, s"sources ${got.size}, want ${want.size}")
          want.foreach { case (v, ws) => m(got.get(v).contains(ws), s"top-$k of vertex $v") }
          m.result
        }
      }))
  }
}
