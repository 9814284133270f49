package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness. One JVM runs one workload at one seed:
  *
  *  1. generates and writes the seeded inputs of the full and the reduced
  *     instance;
  *  2. warms the JVM with an untimed pass of the reduced instance, then
  *     one of the full instance;
  *  3. traced runs only: measures the host's job and planning floors;
  *  4. runs passes of the full instance (setup, then the solve's ops)
  *     until `--seconds` have passed and at least [[MinPasses]] ran;
  *  5. checks every op's output after its pass's timed window.
  *
  * It prints one JSON line: the pass medians of the end-to-end metrics, or
  * with `--trace 1` the per-layer metrics of the traced passes, which
  * alternate with untraced ones so the tracing overhead can be read off.
  */
object Main {
  val MinPasses = 2
  /** Setups per untraced pass: setup is short, so each pass repeats it to
    * give `setup_s` more samples. */
  val SetupRuns = 2

  /** `extraS`: wall time of traced-only ops, part of `solveS`. */
  final case class Pass(setupS: Seq[Double], solveS: Double, cpuS: Double, graphMb: Double,
                        attempted: Int, failed: Int, jitS: Double, gcS: Double,
                        extraS: Double, layers: Map[String, Double])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def loadavg: Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes Spark holds in storage (memory and disk) right now. */
  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Drops every cached frame and persisted RDD, waiting until the blocks
    * are gone, so each pass starts from empty storage. */
  private def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass: setup, then every op of the solve, then, in timed passes,
    * the output checks. A warm-up pass counts only the ops that threw. */
  def pass(spark: SparkSession, inst: Instance, tr: Tracer, traced: Boolean,
           timed: Boolean = true): Pass = {
    tr.enabled = traced
    tr.pass += 1
    val (jit0, gc0) = (jitS, gcS)
    // Timed untraced passes set up SetupRuns times and keep the last build;
    // the earlier ones only add samples of the setup time.
    val setups = (1 to (if (timed && !traced) SetupRuns else 1)).map { i =>
      if (i > 1) dropStorage(spark)
      val t0 = System.nanoTime()
      val b = tr.span("setup")(inst.setup(tr))
      (b, (System.nanoTime() - t0) / 1e9)
    }
    val (built, setupS) = (setups.last._1, setups.map(_._2))
    val graphMb = storageBytes(spark) / 1e6
    if (traced) tr.span("pieces")(built.pieces(tr))
    val ops = built.ops.filter(traced || !_.tracedOnly)
    var extraS = 0.0
    val cpu0 = os.getProcessCpuTime
    val t1 = System.nanoTime()
    val checks = tr.span("solve") {
      ops.map { op =>
        val o0 = System.nanoTime()
        try Right(tr.span(op.span)(op.run()))
        catch { case e: Exception => Left(s"${op.span}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally {
          val dt = (System.nanoTime() - o0) / 1e9
          if (op.tracedOnly) extraS += dt
          System.err.println(f"[perfbench]   ${op.span}%-26s $dt%.3fs")
        }
      }
    }
    val solveS = (System.nanoTime() - t1) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val (jit1, gc1) = (jitS, gcS)
    val problems = checks.map {
      case Left(msg) => Seq(msg)
      case Right(_) if !timed => Nil
      case Right(check) =>
        try check() catch { case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    problems.flatten.foreach(p => System.err.println(s"[perfbench] MISMATCH $p"))
    dropStorage(spark)
    val layers = if (traced) tr.passMetrics(tr.pass) else Map.empty[String, Double]
    System.err.println(f"[perfbench] pass ${tr.pass}%d traced=$traced setup=${median(setupS)}%.3fs " +
      f"solve=$solveS%.3fs cpu=$cpuS%.3fs graph=$graphMb%.3fMB jit=${jit1 - jit0}%.3fs " +
      f"gc=${gc1 - gc0}%.3fs failed=${problems.count(_.nonEmpty)}%d/${ops.size}%d")
    Pass(setupS, solveS, cpuS, graphMb, ops.size, problems.count(_.nonEmpty),
      jit1 - jit0, gc1 - gc0, extraS, layers)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workload.all.getOrElse(opt.getOrElse("workload", ""),
      sys.error(s"--workload must be one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors

    val load0 = loadavg
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val runId = s"${workload.name}-$seed-${System.currentTimeMillis()}"
    val tr = new Tracer(spark.sparkContext, runId)
    try {
      val dataDir = new File(work, "inputs")
      val full = workload.instance(spark, dataDir, seed, reduced = false)
      val small = workload.instance(spark, dataDir, seed, reduced = true)
      // Warm-up: the reduced instance takes the cold pass, then the full
      // instance runs once untimed, as its first pass still compiles code
      // paths the reduced one leaves cold. The JIT keeps compiling for
      // several passes; a fixed count of passes, not of seconds, leaves
      // every run at the same point of that curve however busy the host is.
      val warm = Seq(small, full).map(pass(spark, _, tr, traced = false, timed = false))
      val (jobFloor, planFloor) =
        if (trace) (graft.Bench.jobFloorProbe(spark), graft.Bench.planFloorProbe(spark))
        else (0.0, 0.0)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val timed = scala.collection.mutable.ArrayBuffer[Pass]()
      while (timed.size < MinPasses || System.nanoTime() < deadline)
        timed += pass(spark, full, tr, traced = trace && timed.size % 2 == 1)
      tr.write(new File(work, s"spans/$runId.jsonl"))

      val all = warm ++ timed
      val plain = timed.filter(_.layers.isEmpty)
      val metrics: Map[String, Double] = if (!trace) Map(
        "setup_s" -> median(timed.flatMap(_.setupS)),
        "solve_s" -> median(timed.map(_.solveS)),
        "cpu_s" -> median(timed.map(_.cpuS)),
        "graph_mb" -> median(timed.map(_.graphMb)),
        "ops" -> timed.head.attempted.toDouble)
      else {
        val traced = timed.filter(_.layers.nonEmpty)
        val keys = traced.flatMap(_.layers.keys).distinct
        keys.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap ++ Map(
          "jvm.jit_s" -> median(traced.map(_.jitS)),
          "jvm.gc_s" -> median(traced.map(_.gcS)),
          "jvm.warmup_jit_s" -> warm.head.jitS,
          "jvm.timed1_jit_s" -> timed(0).jitS,
          "host.job_floor_s" -> jobFloor,
          "host.plan_floor_s" -> planFloor,
          "host.session_start_s" -> sessionS,
          "host.loadavg_start" -> load0,
          "host.loadavg_end" -> loadavg,
          "trace.overhead_s" -> (median(traced.map(p => p.solveS - p.extraS)) - median(plain.map(_.solveS))),
          "cores_busy" -> median(plain.map(p => p.cpuS / p.solveS)))
      }
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val body = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    } finally spark.stop()
  }
}
