package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  def edgeDF(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF(core.Gr.SRC, core.Gr.DST)
  }

  def wEdgeDF(edges: Seq[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    edges.toDF(core.Gr.SRC, core.Gr.DST, core.Gr.WEIGHT)
  }

  /** (execution name, executed plan) of every SQL execution `body` runs —
    * for shapes that live in a mid-operator execution (a loop round's
    * `materialize`, an intermediate frame) rather than in the final plan.
    * Listener events post asynchronously but in order, so a tagged
    * sentinel query run after `body` marks the point by which every
    * earlier execution has been seen. */
  def capturePlans(body: => Unit): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(f -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sentinel = s"capture_sentinel_${System.nanoTime()}"
    def all = seen.toArray(Array.empty[(String, String)]).toSeq
    spark.listenerManager.register(l)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!all.exists(_._2.contains(sentinel)) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(l)
    assert(all.exists(_._2.contains(sentinel)), "listener events never arrived")
    all.filterNot(_._2.contains(sentinel))
  }

  /** Spark jobs `body` submits from this thread, counted through a job
    * group the status tracker reports synchronously. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs_in_${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  def graphOf(edges: Seq[(Long, Long)], directed: Boolean = true): core.PropertyGraph =
    core.PropertyGraph(core.Structure.extractVertexList(edgeDF(edges)), edgeDF(edges),
      core.GraphProperties(directed = directed))

  def wGraphOf(edges: Seq[(Long, Long, Double)], directed: Boolean = true): core.PropertyGraph =
    core.PropertyGraph(core.Structure.extractVertexList(wEdgeDF(edges)), wEdgeDF(edges),
      core.GraphProperties(directed = directed, weighted = true))
}
