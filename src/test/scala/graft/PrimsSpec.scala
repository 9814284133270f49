package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.prims.{Iterate, Regime}

/** The packed-chunk store behind `Iterate.materialize`, the fixpoint
  * driver and the regime prim. */
class PrimsSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  test("materialize round-trips variable-length rows, nulls, empty partitions and oversized chunks") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(StructField("a", DoubleType), StructField("b", StringType)))),
      StructField("m", MapType(StringType, LongType))))
    // a ~6 MB string pushes one partition past a 4 MB chunk on its own, and
    // ~1 kB rows fill several chunks of that partition
    val big = "x" * (6 << 20)
    val rows = (0 until 5000).map { i =>
      Row(i.toLong,
        if (i % 7 == 0) null else if (i == 4999) big else ("v" * (i % 1200)) + i,
        if (i % 5 == 0) null else (0 until i % 9).map(j => if (j == 3) null else j).toSeq,
        if (i % 11 == 0) null else Row(if (i % 3 == 0) null else i * 0.5, s"b$i"),
        if (i % 13 == 0) null else Map(s"k$i" -> i.toLong))
    }
    // 8 partitions of which the last three are empty
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .repartition(8, col("id") % 5)
    val want = rowsOf(src.orderBy("id"))
    assert(want.exists(r => r.getString(1) == big))
    val m = Iterate.materialize(src)
    assert(m.schema == src.schema)
    assert(m.rdd.getNumPartitions == 8)
    assert(m.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) >= 3)
    assert(rowsOf(m.orderBy("id")) == want)
    // a second read of the stored chunks sees the same rows
    assert(rowsOf(m.orderBy("id")) == want)
    // a frame derived from the materialized one materializes again
    val m2 = Iterate.materialize(m.filter(col("id") % 2 === 0))
    assert(rowsOf(m2.orderBy("id")) == want.filter(_.getLong(0) % 2 == 0))
    graft.prims.Release.free(m, m2)
  }

  test("materialize of an empty frame is an empty frame") {
    val m = Iterate.materialize(spark.range(0).toDF("id"))
    assert(m.count() == 0)
    assert(m.columns.toSeq == Seq("id"))
  }

  test("materializeCount reads the observed metric off the checkpoint job, no scan") {
    var scans = 0
    val df = spark.range(1000).toDF("id")
    val (ck, n) = Iterate.materializeCount(df,
      sum(when(col("id") % 7 === 0, 1L).otherwise(0L)),
      d => { scans += 1; d.filter(col("id") % 7 === 0).count() })
    assert(n == 143)
    assert(scans == 0, "the observed metric did not surface; the scan fallback ran")
    assert(ck.count() == 1000)
    // round after round on the previous checkpoint, as a loop runs it
    var cur = ck
    for (i <- 1 to 5) {
      val (nx, c) = Iterate.materializeCount(cur.withColumn("id", col("id") + 1),
        sum(when(col("id") % 7 === 0, 1L).otherwise(0L)),
        d => { scans += 1; d.filter(col("id") % 7 === 0).count() })
      assert(c == (i until 1000 + i).count(_ % 7 == 0), s"round $i")
      cur = nx
    }
    assert(scans == 0)
  }

  private def ids(n: Int): DataFrame = Iterate.materialize(spark.range(n).toDF("id"))
  private val bump = (s: DataFrame, _: Int) => s.select((col("id") + 1).as("id"))
  private def maxId(df: DataFrame): Long = df.agg(max("id")).first().getLong(0)

  test("fixpoint: the cap ends an unconverged loop; a stop rule firing on the cap round converges") {
    val (st, rounds, converged) = Iterate.fixpoint(ids(10), 3, 10L)(bump, None, (_, _, _) => false)
    assert(rounds == 3 && !converged)
    assert(maxId(st) == 12)
    var calls = 0
    val (_, r2, c2) = Iterate.fixpoint(ids(10), 3, 10L)(bump, None,
      { (_, _, _) => calls += 1; calls == 3 })
    assert(r2 == 3 && c2)
    // no round at all: the init comes back as it went in
    val init = ids(4)
    val (st0, r0, c0) = Iterate.fixpoint(init, 0, 4L)(bump, None, (_, _, _) => true)
    assert((st0 eq init) && r0 == 0 && !c0 && st0.count() == 4)
  }

  test("fixpoint: the stop rule sees prev and next; every state but the last is freed") {
    val seen = scala.collection.mutable.ArrayBuffer[(DataFrame, DataFrame, Long)]()
    val (st, rounds, converged) = Iterate.fixpoint(ids(5), 10, 5L)(bump, Some(max("id")),
      { (prev, next, m) =>
        // both states are still readable inside the stop rule
        assert(maxId(next) == maxId(prev) + 1)
        seen += ((prev, next, m))
        m >= 7
      })
    assert(converged && rounds == 3)
    assert(seen.map(_._3) == Seq(5L, 6L, 7L))
    assert(seen.last._2 eq st)
    assert(st.count() == 5 && maxId(st) == 7)
    // the init and rounds 1–2 were freed: reading them throws
    seen.map(_._1).foreach(prev => intercept[Exception](prev.count()))
  }

  test("fixpoint: the observed metric adds no job") {
    val never = (_: DataFrame, _: DataFrame, _: Long) => false
    var metrics = Seq.empty[Long]
    val withMetric = jobsIn {
      Iterate.fixpoint(ids(100), 4, 100L)(bump, Some(sum(when(col("id") % 2 === 0, 1L))),
        { (_, _, m) => metrics :+= m; false })
    }
    val without = jobsIn(Iterate.fixpoint(ids(100), 4, 100L)(bump, None, never))
    assert(metrics == Seq(50L, 50L, 50L, 50L))
    assert(withMetric == without, s"$withMetric jobs with the metric, $without without")
  }

  test("a QueryExecutionListener sees the materialized plan") {
    val plans = capturePlans {
      Iterate.materialize(spark.range(50).toDF("id")
        .withColumn("tag_materialize_probe", col("id") * 3))
    }
    assert(plans.exists { case (name, plan) =>
      name == "materialize" && plan.contains("tag_materialize_probe") })
  }

  test("Regime scopes AQE off under the gate and restores it, leaves it alone past the gate") {
    def aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val before = aqe
    val keep = sys.env.contains("GRAFT_KEEP_AQE")
    Regime.scope(spark, 10L) {
      assert(aqe == (if (keep) before else "false"))
      assert(keep || spark.conf.get("spark.sql.shuffle.partitions") == "1")
    }
    assert(aqe == before)
    Regime.scope(spark, Regime.BroadcastRows + 1)(assert(aqe == before))
    Regime.scope(spark, -1L)(assert(aqe == before))
    assert(Regime.fits(Regime.BroadcastRows) && !Regime.fits(Regime.BroadcastRows + 1))
  }
}
