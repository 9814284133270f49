package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Nominal seconds for [[calibrationProbe]] on an idle local[32] host —
    * measured round-7 via tools.CalibProbe (4 reps: 4.9-6.1s, median ~5.5
    * after the in-probe JIT warmup). `host_index` = probe/nominal; the
    * idle-host noise band is ~0.9-1.3, so an index above ~1.8 means the
    * capture window was degraded (the r6 artifact was 2.3× on
    * byte-identical code) and the round's totals should be read against
    * the calibration, not trusted raw. */
  val CalibNominalSec = 5.5

  /** Fixed, code-independent workload: 10 PageRank iterations on a cached
    * RMAT scale-16 / edgefactor-16 graph (≈1M edges). The graph build and
    * materialization happen OFF the probe clock, so the probe measures the
    * host's shuffle/agg throughput on a pinned plan — run before and after
    * the sweep, it bounds how much of a bench total is the machine, not the
    * code. */
  def calibrationProbe(spark: SparkSession): Double = {
    import graft.core.{Gr, PropertyGraph, Structure, GraphProperties}
    import graft.prims.Mat._
    import org.apache.spark.sql.functions._
    import Gr._
    val raw = gen.Generators.rmat(spark, 16, 1L << 20, fastHash = true)
      .select(SRC, DST)
    val und = Structure.canonicalize(raw).withColumn(WEIGHT, lit(1.0)).mat
    val sym = Structure.symmetrize(und).mat
    val verts = Structure.extractVertexList(und).mat
    val g = PropertyGraph(verts, sym, GraphProperties(directed = false, weighted = true))
    g.edges.count() // force materialization off the clock
    // untimed 2-iteration pass first: codegen + JIT compilation of the PR
    // plan otherwise lands in the pre-probe only, skewing pre vs post
    pinnedProbePr(g, iters = 2)
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    pinnedProbePr(g, iters = 10)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** PINNED copy of the pre-r11-opt PageRank fixed-iteration loop. The
    * probe's job is to measure the HOST on a plan whose shape never
    * changes — it was accidentally coupled to the live PageRank kernel,
    * so optimizing that kernel (r11-opt: fused dangling scan, scoped AQE)
    * would silently shift the pinned nominal (CalibNominalSec) and break
    * every cross-round host-index comparison. This copy freezes the exact
    * r7-pinned plan: per-round dangling semi-join scalar + Hint.state
    * broadcast attach + left join onto the reset frame, AQE on.
    *
    * The round loop is its own: materialize each round, then free the
    * previous state — not the kernels' Iterate.fixpoint driver, so a change
    * to that driver cannot shift the probe. Replacing the retired
    * Iterate.loopWithStatus call with it (same materialize/free sequence)
    * left the probe in its band: CalibProbe 3 reps at local[4] on a 4-core
    * / 16 GB host, two interleaved runs per side, medians 5.15s / 4.51s
    * before and 4.67s / 4.23s after.
    *
    * ADVICE r11: the copy still executes through LIVE shared prims —
    * Iterate.materialize (the packed-chunk checkpoint), Release.free,
    * Hint.state, Mat.mat, and the session's AQE defaults.
    * Changing any of those changes the probe's executed plan and silently
    * shifts CalibNominalSec. Round-close discipline: any round that
    * touches those prims must re-check the probe against its nominal band
    * (idle ~0.9-1.3) before reading host_index across rounds. r12 touched
    * none of them. The packed-chunk materialize (which replaced
    * localCheckpoint at MEMORY_AND_DISK_SER) does: CalibProbe 3 reps at
    * local[4] on a 4-core / 16 GB host measured the probe at median
    * 14.51s (13.48-15.54) before it and 6.26s (5.66-8.10) after, so
    * host_index values from before and after that change are not
    * comparable, and the local[32] CalibNominalSec predates both. */
  private def pinnedProbePr(g: graft.core.PropertyGraph, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.core.Gr._
    import graft.prims.{Hint, Release}
    import graft.prims.Mat._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    val alpha = 0.85
    val verts = g.vertices.select(ID).mat
    val nV = verts.count().toDouble
    val e = g.edges.select(SRC, DST).withColumn(WEIGHT, lit(1.0))
    val outW = e.groupBy(col(SRC).as(ID)).agg(sum(WEIGHT).as("out_w")).mat
    val edges = e.join(outW.withColumnRenamed(ID, SRC), SRC)
      .select(col(SRC), col(DST), (col(WEIGHT) / col("out_w")).as("norm_w")).mat
    val reset = verts.withColumn("reset", lit(1.0 / nV)).mat
    val danglingSet = verts.join(outW, Seq(ID), "left_anti").mat
    val hasDangling = danglingSet.count() > 0
    val init = reset.select(col(ID), col("reset").as("pagerank"))
    val step = { (ranks: DataFrame, _: Int) =>
      val dangling = if (!hasDangling) 0.0
        else ranks.join(danglingSet, Seq(ID), "left_semi")
          .agg(coalesce(sum("pagerank"), lit(0.0))).first().getDouble(0)
      val contribs = edges.join(Hint.state(ranks.withColumnRenamed(ID, SRC), nV.toLong), SRC)
        .select(col(DST).as(ID), (col("pagerank") * col("norm_w")).as("c"))
        .groupBy(ID).agg(sum("c").as("in_sum"))
      reset.join(contribs, Seq(ID), "left")
        .select(col(ID),
          (lit(alpha) * (coalesce(col("in_sum"), lit(0.0)) + lit(dangling) * col("reset"))
            + lit(1.0 - alpha) * col("reset")).as("pagerank"))
    }
    var ranks = init.mat
    for (round <- 0 until iters) {
      val next = step(ranks, round).mat
      Release.free(ranks)
      ranks = next
    }
    ranks.select(col(ID), col("pagerank"))
  }

  /** Nominal seconds for [[jobFloorProbe]] on this host — pinned round-7
    * from the best of 4 reps (7.6s) in a window whose data-probe index was
    * ~1.0. The same captures measured 75-115ms per trivial job — which by
    * itself accounts for the q_louvain 18.5→35s "regression" (~160 jobs ×
    * the floor delta); the probe exists so that attribution is in the
    * artifact, not re-derived each round. */
  val JobFloorNominalSec = 7.6

  /** Scheduler-floor probe: 100 trivial jobs on a cached 1-row frame. The
    * data-stage probe above is blind to driver-side degradation (per-job
    * scheduling latency, Catalyst planning contention) — exactly the axis
    * that dominates iterative many-small-job queries (q_louvain at sf0.1 is
    * ~160 jobs each ≤2s; see the round-7 window-vs-join autopsy). The two
    * probes separate "shuffle throughput degraded" from "job floor
    * degraded" in every capture. */
  def jobFloorProbe(spark: SparkSession): Double = {
    val one = spark.range(1).cache()
    (0 until 20).foreach(_ => one.count()) // JIT/codegen warmup off the clock
    val t0 = System.nanoTime()
    (0 until 100).foreach(_ => one.count())
    val dt = (System.nanoTime() - t0) / 1e9
    one.unpersist()
    dt
  }

  /** Nominal seconds for [[planFloorProbe]] — pinned round-8 (3 reps
    * 0.49-0.85s, median 0.77 on a host whose other indexes sat at
    * ~1.1/1.4; this probe did not exist earlier — re-pin if a healthier
    * host shows materially lower). The planning floor is the third
    * degradation axis: single-threaded Catalyst analysis/optimization
    * time, invisible to both the parallel data probe and the job-floor
    * probe. (Measured r8: the host where iterative queries ran 3-4× the
    * r7 close had a HEALTHY plan floor — its inflation lived in the
    * per-job scheduler floor instead, so the probe's first real service
    * was ruling planning OUT.) */
  val PlanFloorNominalSec = 0.77

  /** Planning-floor probe: plan (analyze → optimize → physical-plan,
    * nothing executed) a canonical 6-join + agg query 10 times, each with
    * a different literal so the plan cache can't short-circuit. Pure
    * driver-side single-thread work — the axis the other probes miss. */
  def planFloorProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t = spark.range(1000).toDF("id")
    def planOnce(i: Int): Unit = {
      val base = t.select(col("id"), (col("id") % (97 + i)).as("k"))
      val joined = (1 to 6).foldLeft(base) { (df, n) =>
        df.join(t.select(col("id").as(s"id$n"), (col("id") + (n + i)).as(s"v$n")),
          col("k") === col(s"id$n") % 13, "left")
      }
      joined.groupBy("k")
        .agg(sum(col("v1") * col("v2") + i).as("s"))
        .filter(col("s") > i)
        .queryExecution.executedPlan
    }
    (-3 until 0).foreach(planOnce) // JIT/rule-warmup off the clock
    val t0 = System.nanoTime()
    (0 until 10).foreach(planOnce)
    (System.nanoTime() - t0) / 1e9
  }

  /** One full sweep: calibration pre, prewarm, every query, calibration
    * post — returns both artifact JSON lines (full-fidelity for
    * BENCH_LOCAL.json, compact for stdout) and the degraded verdict, so
    * [[main]] can apply the pinned round-close rule (a degraded capture is
    * re-run, not narrated) mechanically.
    *
    * r12 measurement-infra changes (declared in OPTIMIZATION_r12.md; no
    * timed-query methodology changed — same noop sink, same prewarm, same
    * calibration probes):
    *  - The VarianceWatch median-of-3 remeasure rule (r11) is REMOVED: it
    *    only fired when a watched query was slow, so the 4 watched
    *    per-query values were biased low vs every other query (VERDICT r11
    *    item #4/"what's wrong" #4 offered removal as the fix; the r11-opt
    *    job-count reductions are the structural variance fix). Every query
    *    is now timed exactly once per sweep, like every other query.
    *  - stdout carries a COMPACT line (per-query seconds at 2 decimals, no
    *    started/remeasured maps): the driver's capture has never parsed
    *    the full line (BENCH_r01..r11 all parsed:null), and the full map
    *    set had grown it past any capture window. The full-fidelity line
    *    (exact seconds + started map) still lands in BENCH_LOCAL.json. */
  private final case class Sweep(lineFull: String, lineCompact: String,
                                 degraded: Boolean, total: Double)

  private def fmt2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def runSweep(spark: SparkSession, sfDir: String, cpus: String,
                       subset: Option[Set[String]]): Sweep = {
    // shared fixtures are built OFF the per-query clock (their cost is
    // reported separately below and included in the total): per-query
    // numbers otherwise charge each fixture's build to whichever query
    // touches it first, which moves across rounds as the name set changes.
    // Subset runs skip the prewarm — they exist to see one query's full
    // isolated cost.
    // pre-sweep calibration (skipped on subset runs): a pinned workload
    // whose cost is code-independent across rounds — see calibrationProbe
    val calibPre = if (subset.isEmpty) calibrationProbe(spark) else 0.0
    val calibJobsPre = if (subset.isEmpty) jobFloorProbe(spark) else 0.0
    val calibPlanPre = if (subset.isEmpty) planFloorProbe(spark) else 0.0
    if (subset.isEmpty)
      System.err.println(
        f"[bench] calibration pre t=$calibPre%.1fs jobs=$calibJobsPre%.1fs plan=$calibPlanPre%.1fs")
    val warmSec = if (subset.isEmpty) {
      val t0 = System.nanoTime()
      Fixtures.prewarm(spark, sfDir)
      val w = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] fixture prewarm t=$w%.1fs")
      w
    } else 0.0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // wall-clock start per query (epoch seconds): post-hoc contention
      // diagnosis — a machine-wide disturbance (e.g. a concurrent oracle
      // run) shows up as a time-localized block of slow queries, where a
      // code regression tracks the query, not the clock (BENCH_r04 was
      // poisoned exactly this way and undiagnosable without timestamps)
      val startedAt = System.currentTimeMillis() / 1000
      val t0 = System.nanoTime()
      // noop sink: forces full computation of every output column. A bare
      // count() lets Catalyst eliminate a final left join against unique
      // keys — the triangle-family queries then "benchmark" a plan whose
      // expensive aggregation never runs (caught in round 4; see
      // BASELINE.md). count() afterwards only feeds the progress line.
      // a failed query prints its message: in-gate guards (e.g. the
      // q_lr_classify holdout-accuracy floor) exist to DIAGNOSE a broken
      // kernel, which a silent None would defeat (ADVICE r7)
      val dfOpt = try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        Some(df)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // rows are reported outside the timed window (count may replay a
      // purely-declarative plan; the timing contract is the noop write)
      val n = dfOpt.map(df => try df.count() catch { case _: Throwable => -1L }).getOrElse(-1L)
      // progress line per query (stderr — the stdout contract is one JSON
      // line), and a GC nudge so the ContextCleaner unpersists the
      // now-unreferenced per-query localCheckpoint RDDs; without it 80+
      // queries accumulate cached blocks until heavy queries spill.
      System.err.println(f"[bench] $name rows=$n t=$dt%.1fs")
      System.gc()
      (name, dt, startedAt)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsCompact = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    val starts = results.map { case (k, _, s) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val calibPost = if (subset.isEmpty) calibrationProbe(spark) else 0.0
    val calibJobsPost = if (subset.isEmpty) jobFloorProbe(spark) else 0.0
    val calibPlanPost = if (subset.isEmpty) planFloorProbe(spark) else 0.0
    if (subset.isEmpty)
      System.err.println(
        f"[bench] calibration post t=$calibPost%.1fs jobs=$calibJobsPost%.1fs plan=$calibPlanPost%.1fs")
    // host_index: mean probe time over the pinned nominal — >~1.5 flags a
    // degraded capture window (r6's 1125s artifact would have carried ~3)
    val hostIndex = if (subset.isEmpty)
      ((calibPre + calibPost) / 2.0) / CalibNominalSec else 0.0
    val hostIndexJobs = if (subset.isEmpty)
      ((calibJobsPre + calibJobsPost) / 2.0) / JobFloorNominalSec else 0.0
    // plan-floor index is DIAGNOSTIC ONLY (not in the degraded predicate:
    // the round-close rule is pinned on the two r7 indexes) — it exists so
    // a capture where iterative queries blow up while data/jobs read
    // healthy carries its own explanation
    val hostIndexPlan = if (subset.isEmpty)
      ((calibPlanPre + calibPlanPost) / 2.0) / PlanFloorNominalSec else 0.0
    // total stays honest: prewarm seconds are part of the run, reported
    // both inside the total and as their own field (calibration probes are
    // excluded from the total — they measure the host, not the code)
    val total = results.map(_._2).sum + warmSec
    // cpus rides the artifact: the nominal probe times are pinned to an
    // idle local[32] run, so a host_index from any other cpu config is
    // uninterpretable without knowing which config produced it (ADVICE r7)
    //
    // degraded: machine-readable round-close verdict on the capture window
    // (VERDICT r7 item #2's pinned rule). Either index above 1.5 on the
    // pinned 32-cpu config means the totals are a host artifact, and the
    // round-close procedure is: RE-RUN the sweep, don't narrate the caveat.
    // Only evaluated at the pinned config — at any other cpu count the
    // nominals don't apply, so the flag stays false rather than lying.
    val degraded = subset.isEmpty && cpus == "32" &&
      (hostIndex > 1.5 || hostIndexJobs > 1.5)
    val lineFull = s""""value":$total,"unit":"sec","queries":$qs,"started":$starts,"fixture_warm":$warmSec,"calib_pre":$calibPre,"calib_post":$calibPost,"host_index":$hostIndex,"calib_jobs_pre":$calibJobsPre,"calib_jobs_post":$calibJobsPost,"host_index_jobs":$hostIndexJobs,"calib_plan_pre":$calibPlanPre,"calib_plan_post":$calibPlanPost,"host_index_plan":$hostIndexPlan,"cpus":$cpus,"degraded":$degraded,"sf":"$sfDir""""
    // compact stdout form: same fields the contract names plus the scalar
    // diagnostics, per-query at 2 decimals, no started map
    val lineCompact = s""""value":${fmt2(total)},"unit":"sec","queries":$qsCompact,"fixture_warm":${fmt2(warmSec)},"host_index":${fmt3(hostIndex)},"host_index_jobs":${fmt3(hostIndexJobs)},"host_index_plan":${fmt3(hostIndexPlan)},"cpus":$cpus,"degraded":$degraded,"sf":"$sfDir""""
    Sweep(lineFull, lineCompact, degraded, total)
  }

  private def buildSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var spark = buildSession(cpus)
    // optional arg: comma-separated query subset (iteration aid; the
    // driver's per-round bench passes no args and runs everything)
    val subset = if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val first = runSweep(spark, sfDir, cpus, subset)
    // the pinned round-close rule, mechanized (VERDICT r8 item #2): a
    // capture whose calibration index exceeds 1.5 is RE-RUN once, not
    // narrated — the artifact adjudicates itself. One retry only: if the
    // host is still degraded after ~20 minutes, a third pass measures the
    // same machine; the final line then carries degraded=true plus the
    // first attempt's total so the round can be read against both.
    // r12 (VERDICT r11 item #6): the rerun now stops the SparkContext and
    // sweeps in a FRESH session — session caches (Fixtures, shared
    // kernels), cached blocks and SQL conf state all reset, so the rerun
    // re-pays fixture builds like any fresh capture. JVM JIT warmth is the
    // one thing a same-process rerun cannot shed, so rerun_warm stays true
    // and cross-round readers should still prefer attempt1-comparable cold
    // captures; rerun_fresh_session distinguishes the two regimes.
    val (chosen, attempts, firstTotal) =
      if (first.degraded && subset.isEmpty) {
        System.err.println(f"[bench] capture degraded (total=${first.total}%.1fs) — re-running the full sweep once per the pinned rule (fresh session)")
        // Persist attempt 1 BEFORE tearing the context down: if the
        // rebuild or the rerun dies, the completed (if degraded) sweep is
        // still on disk instead of lost with the process. Overwritten by
        // the final write below on the normal path.
        try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
          (s"""{"metric":"total",${first.lineFull},"attempts":1,"pre_rerun":true}""" + "\n")
            .getBytes("UTF-8"))
        catch { case _: Throwable => () }
        // The session caches are keyed by a per-session UUID and never
        // evicted — drop the dying session's entries so its materialized
        // fixture/kernel frames don't stay pinned through the second sweep.
        Fixtures.evictSession(spark)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.gc()
        spark = buildSession(cpus)
        (runSweep(spark, sfDir, cpus, subset), 2, first.total)
      } else (first, 1, first.total)
    val attemptFields =
      if (attempts > 1)
        s""","attempts":2,"attempt1_total":$firstTotal,"rerun_warm":true,"rerun_fresh_session":true"""
      else s""","attempts":1"""
    val attemptFieldsCompact =
      if (attempts > 1)
        s""","attempts":2,"attempt1_total":${fmt2(firstTotal)},"rerun_warm":true,"rerun_fresh_session":true"""
      else s""","attempts":1"""
    val lineFull = s"""{"metric":"total",${chosen.lineFull}$attemptFields}"""
    val lineCompact = s"""{"metric":"total",${chosen.lineCompact}$attemptFieldsCompact}"""
    // persist the complete JSON to a file FIRST — BENCH_r05.json reached
    // the repo truncated mid-object (ADVICE r5), and a committed local copy
    // makes every bench total independently substantiable even if the
    // driver's capture clips again.
    if (subset.isEmpty) {
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (lineFull + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    // the stdout contract line goes out LAST, after spark.stop(), so no
    // late executor/log line can land after it: with build.sbt's
    // StdoutOutput + showSuccess:=false this is the final stdout line of
    // the sbt invocation, unprefixed — the form a line-level JSON parse of
    // the captured output accepts (BENCH_r01..r11 all failed on sbt's
    // "[info] " prefix and trailing "[success]" line). stop() is guarded:
    // a shutdown-race exception must not cost the contract line the sweep
    // already earned.
    try spark.stop() catch { case _: Throwable => () }
    println(lineCompact)
  }
}
