package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{PropertyGraph, Structure, Gr}
import graft.prims.{Hint, Iterate, Regime, Release}

/** Spectral graph clustering (reference: legacy Lanczos+kmeans
  * `algorithms.hpp:878` `spectralBalancedCutClustering`, `:914`
  * `spectralModularityMaximizationClustering`; quality analyzers live in
  * graft.algos.Community).
  *
  * Spark-native realization: power-iteration clustering (Lin & Cohen, ICML
  * 2010) — the power-method embedding of the row-normalized affinity matrix
  * W = D⁻¹A followed by k-means on the 1-D embedding, i.e. the same
  * dominant-eigenvector machinery the reference's Lanczos path
  * approximates, expressed over the (src, dst, weight) edge DataFrame and
  * therefore distributed by construction. Implemented directly (one
  * edge-join matvec + one hash agg per iteration) rather than via MLlib's
  * PIC so the iteration is DETERMINISTIC and engine-reproducible: state is
  * snapped to 1e-8 each round (the ForceAtlas2/eigen oracle trick), which
  * lets the DuckDB oracle (MiscSql.spectralPicSupplier) replay it exactly.
  */
object Spectral {
  import Gr._

  /** Balanced-cut-style clustering into k parts ("degree" init, matching
    * the PIC paper's recommended v₀ = d/volume). Output (id, cluster). */
  def balancedCut(g: PropertyGraph, k: Int, maxIter: Int = 10,
                  seed: Long = 42): DataFrame =
    picCluster(g, k, maxIter, degreeInit = true, seed)

  /** Deterministic PIC with constant-mode deflation: each round applies the
    * random-walk operator W = D⁻¹A, then centers (subtracts the mean — the
    * dominant eigenvector of W is the constant vector, so centering is
    * Gram-Schmidt against it) and rescales to max|v| = 1. That is power
    * iteration on the SUBDOMINANT eigenvector of W — the Fiedler embedding
    * of the random-walk Laplacian, the very vector the reference's Lanczos
    * balanced-cut extracts — and unlike the undeflated Lin&Cohen iteration
    * it converges to a stable fixed point instead of collapsing to the
    * constant vector, so a fixed iteration count + 1e-8 snapping is
    * engine-reproducible. Then 1-D Lloyd k-means seeded with k evenly
    * spaced centroids over [min, max] — no global sort, no per-partition
    * RNG, every step a hash agg or broadcast-scalar projection, so the plan
    * is identical on 1 or 1000 executors and replayable by the SQL oracle. */
  private def picCluster(g: PropertyGraph, k: Int, iters: Int,
                         degreeInit: Boolean, seed: Long): DataFrame = {
    import graft.pipeline.TextOps.hash60
    val und = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false)).mat
    val deg = und.groupBy(SRC).agg(sum(WEIGHT).as("d")).mat
    val n = deg.count()
    // row-normalized transition edge stream; the O(V) degree table
    // broadcasts under the size gate so the edge stream never reshuffles
    val trans = und.join(Hint.state(deg, n), SRC)
      .select(col(SRC), col(DST), (col(WEIGHT) / col("d")).as("w")).mat
    val v0 =
      if (degreeInit) {
        // degree init (PIC's v₀ = d/volume, scaled to mean 1) plus a small
        // deterministic hash jitter: a graph automorphism (two mirrored
        // communities) makes the pure degree vector symmetric, which has
        // zero component along the antisymmetric Fiedler mode and the
        // power iteration could never escape it
        val total = deg.agg(sum("d")).first().getDouble(0)
        deg.select(col(SRC).as(ID),
          round(col("d") * lit(n) / lit(total) +
            hash60(concat_ws("|", lit("pic"), col(SRC), lit(seed)))
              .cast("double") / lit(math.pow(2, 60)) * lit(0.01), 8).as("v"))
      } else
        deg.select(col(SRC).as(ID),
          round(hash60(concat_ws("|", lit("pic"), col(SRC), lit(seed)))
            .cast("double") / lit(math.pow(2, 60)), 8).as("v"))
    // center + L∞ rescale of y by the scalars (c, m) the stop rule reads —
    // NOT materialized: the next round's join runs it over the stored y
    var c = 0.0
    var m = 1.0
    def rescaled(y: DataFrame): DataFrame =
      y.select(col(ID), round((col("v") - lit(c)) / lit(m), 8).as("v"))
    // r12 (VERDICT r11 item #5): the matvec loop ran at SESSION width under
    // AQE — at 32 cores every per-iteration exchange launched a full task
    // wave over a V-row state (the driver's r11 window measured q_spectral
    // 36s at c32 vs 8s at c8: pure width sensitivity, not data). Under the
    // broadcast gate the state join is explicitly hinted and the loop runs
    // AQE-off at the rows/500k width — the same scale-adaptive rule every
    // other gated loop applies (prims.Aqe scaladoc). Values: the iterate is
    // snapped to 1e-8 every round (and centroids likewise), which is the
    // existing engine-reproducibility contract — the oracle already replays
    // it across partition layouts (the bench runs c32, Verify c8).
    // The state is the materialized y (v₀ in round 0).
    val (y, iterations, _) = Iterate.fixpoint(v0.mat, iters, n)({ (st, i) =>
      val vRen = (if (i == 0) st else rescaled(st)).withColumnRenamed(ID, DST)
      trans.join(Hint.state(vRen, n), DST)
        .groupBy(col(SRC).as(ID)).agg(sum(col("w") * col("v")).as("v"))
    }, None, { (_, y, _) =>
      // ONE scalar agg (max|y−c| = max(mx−c, c−mn)): the round's second and
      // last job, the same budget as the eigen path's Gram collect
      val row = y.agg(sum("v"), max("v"), min("v")).first()
      c = row.getDouble(0) / n
      m = math.max(math.max(row.getDouble(1) - c, c - row.getDouble(2)), 1e-300)
      false
    })
    val v = (if (iterations == 0) y else rescaled(y)).mat
    Release.free(y, und, deg, trans)
    // deterministic 1-D k-means: evenly spaced initial centroids over the
    // embedding's range (scalars from one agg — no global sort), then Lloyd
    // rounds with arg-min assignment, centroids snapped to 1e-8
    val mm = v.agg(min("v"), max("v")).first()
    val (vmin, vmax) = (mm.getDouble(0), mm.getDouble(1))
    var cents: Array[(Long, Double)] = Array.tabulate(k)(j =>
      (j.toLong, vmin + ((2 * j + 1).toDouble * (vmax - vmin)) / (2 * k).toDouble))
    def assignExpr(cs: Array[(Long, Double)]): Column =
      least(cs.map { case (cid, c) =>
        struct(((col("v") - lit(c)) * (col("v") - lit(c))).as("d"), lit(cid).as("c"))
      }.toIndexedSeq: _*).getField("c")
    Regime.scope(und.sparkSession, n) {
    for (_ <- 1 to KMeansIters) {
      cents = v.withColumn("cluster", assignExpr(cents))
        .groupBy("cluster").agg(round(avg("v"), 8).as("c"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    }
    }
    v.withColumn("cluster", assignExpr(cents))
      .select(col(ID), col("cluster").cast("long").as("cluster"))
  }

  /** Lloyd rounds after seeding — mirrored by the oracle's unroll depth. */
  val KMeansIters = 5

  /** Balanced cut with the reference's `num_eigen_vects` semantics
    * (`algorithms.hpp:878`: Lanczos → smallest Laplacian eigenvectors →
    * k-means). Spark realization: ORTHOGONAL ITERATION on the normalized
    * adjacency Â = D^{-1/2} A D^{-1/2} — the top-p eigenvectors of Â are
    * exactly the smallest-eigenvalue eigenvectors of the normalized
    * Laplacian I − Â that Lanczos extracts. Each iteration is ONE edge-join
    * matvec carrying all p columns (p sums in one hash agg) plus a p×p Gram
    * collected to the driver for Cholesky re-orthonormalization — 2 jobs
    * per iteration regardless of p, versus a Lanczos sweep's per-vector
    * re-orthogonalization job storm. K-means then runs on the p-dim
    * embedding with deterministic hash-seeded centroids.
    * Output (id, cluster). */
  def balancedCutEigen(g: PropertyGraph, k: Int, numEigenVects: Int = 4,
                       powerIters: Int = 12, kmeansIters: Int = 5,
                       seed: Long = 42): DataFrame = {
    import graft.pipeline.TextOps.hash60
    val p = numEigenVects
    val und = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false)).mat
    val deg = und.groupBy(SRC).agg(sum(WEIGHT).as("d"))
    val aNorm = und.join(deg.withColumnRenamed("d", "ds"), SRC)
      .join(deg.select(col(SRC).as(DST), col("d").as("dd")), DST)
      .select(col(SRC), col(DST), (col(WEIGHT) / sqrt(col("ds") * col("dd"))).as("w"))
      .mat
    def xcols = (0 until p).map(j => s"x$j")
    // deterministic init in (-0.5, 0.5)
    val x0 = und.select(col(SRC).as(ID)).distinct()
      .select(col(ID) +: (0 until p).map(j =>
        (hash60(concat_ws("|", lit("eig"), col(ID), lit(j), lit(seed)))
          .cast("double") / lit(math.pow(2, 60)) - lit(0.5)).as(s"x$j")): _*)
      .mat
    val nX = x0.count()
    // X = Y R⁻¹ from the previous round's Gram, a projection the next
    // round's join runs over the stored y (like PIC's rescale). Snapped to
    // 1e-8 per iteration (same trick as ForceAtlas2): the matvec and Gram
    // sums associate differently across engines/partitionings at ULP level;
    // snapping re-quantizes the state each round so the DuckDB oracle
    // (MiscSql.spectralEigenSupplier) replays the iteration exactly.
    var rInv: Array[Array[Double]] = null
    def orthonormalized(y: DataFrame): DataFrame =
      y.select(col(ID) +: (0 until p).map(j =>
        round((0 to j).map(i => col(s"x$i") * lit(rInv(i)(j))).reduce(_ + _), 8).as(s"x$j")): _*)
    // same scoped-width rule as picCluster (VERDICT r11 item #5); state is
    // snapped to 1e-8 per iteration, so the layout change is absorbed by
    // the existing engine-reproducibility contract. The state is the
    // materialized y (x₀ in round 0); a round is 2 jobs.
    val (y, iterations, _) = Iterate.fixpoint(x0, powerIters, nX)({ (st, i) =>
      val x = if (i == 0) st else orthonormalized(st)
      // matvec for all p columns in one join + one hash agg
      aNorm.join(Hint.state(x.withColumnRenamed(ID, DST), nX), DST)
        .groupBy(col(SRC).as(ID))
        .agg(xcols.map(c => sum(col("w") * col(c)).as(c)).head,
          xcols.map(c => sum(col("w") * col(c)).as(c)).tail: _*)
    }, None, { (_, y, _) =>
      // Gram = Yᵀ Y (p(p+1)/2 sums, one agg) → Cholesky Rᵀ R = G on the
      // driver → X = Y R⁻¹ re-orthonormalizes without a second shuffle
      val gramCols = for (i <- 0 until p; j <- i until p)
        yield sum(col(s"x$i") * col(s"x$j")).as(s"g_${i}_$j")
      val gRow = y.agg(gramCols.head, gramCols.tail: _*).first()
      val gram = Array.tabulate(p, p) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        gRow.getDouble((0 until p).map(ii => p - ii).take(a).sum + (b - a))
      }
      rInv = invUpper(cholesky(gram, p), p)
      false
    })
    val x = (if (iterations == 0) y else orthonormalized(y)).mat
    Release.free(y, und, aNorm)
    // deterministic k-means on the embedding: centroids seeded from the k
    // smallest vertex ids, Lloyd rounds with arg-min assignment
    var cents: Array[(Long, Array[Double])] = x.orderBy(ID).limit(k).collect()
      .zipWithIndex.map { case (row, i) =>
        (i.toLong, (0 until p).map(j => row.getDouble(1 + j)).toArray) }
    def assignExpr(cs: Array[(Long, Array[Double])]): Column = {
      val dists = cs.map { case (cid, cv) =>
        val d2 = (0 until p).map(j => (col(s"x$j") - lit(cv(j))) * (col(s"x$j") - lit(cv(j))))
          .reduce(_ + _)
        struct(d2.as("d"), lit(cid).as("c"))
      }
      least(dists.toIndexedSeq: _*).getField("c")
    }
    Regime.scope(und.sparkSession, nX) {
    for (_ <- 1 to kmeansIters) {
      val assigned = x.withColumn("cluster", assignExpr(cents))
      // centroid snap, same engine-reproducibility reason as above
      val avgCols = (0 until p).map(j => round(avg(col(s"x$j")), 8).as(s"x$j"))
      val newCents = assigned.groupBy("cluster")
        .agg(avgCols.head, avgCols.tail: _*)
        .collect()
        .map(row => (row.getLong(0), (0 until p).map(j => row.getDouble(1 + j)).toArray))
        .sortBy(_._1)
      cents = newCents
    }
    }
    x.withColumn("cluster", assignExpr(cents))
      .select(col(ID), col("cluster").cast("long").as("cluster"))
  }

  /** Lower-triangular Cholesky of G (as the transposed upper factor R with
    * Rᵀ R = G), small p×p on the driver. */
  private def cholesky(g: Array[Array[Double]], p: Int): Array[Array[Double]] = {
    val r = Array.ofDim[Double](p, p)
    for (j <- 0 until p) {
      var s = g(j)(j)
      for (i <- 0 until j) s -= r(i)(j) * r(i)(j)
      r(j)(j) = math.sqrt(math.max(s, 1e-300))
      for (c <- j + 1 until p) {
        var t = g(j)(c)
        for (i <- 0 until j) t -= r(i)(j) * r(i)(c)
        r(j)(c) = t / r(j)(j)
      }
    }
    r
  }

  /** Inverse of an upper-triangular p×p matrix (back substitution). */
  private def invUpper(r: Array[Array[Double]], p: Int): Array[Array[Double]] = {
    val inv = Array.ofDim[Double](p, p)
    for (j <- 0 until p) {
      inv(j)(j) = 1.0 / r(j)(j)
      for (i <- j - 1 to 0 by -1) {
        var s = 0.0
        for (m <- i + 1 to j) s += r(i)(m) * inv(m)(j)
        inv(i)(j) = -s / r(i)(i)
      }
    }
    inv
  }

  /** Modularity-maximization flavor: same embedding machinery, hash-seeded
    * "random" init (matches the reference exposing two spectral entry
    * points, `algorithms.hpp:914`); deterministic and oracle-replayable
    * like [[balancedCut]]. */
  def modularityMaximization(g: PropertyGraph, k: Int, maxIter: Int = 10,
                             seed: Long = 42): DataFrame =
    picCluster(g, k, maxIter, degreeInit = false, seed)
}
