package graft.prims

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.RowShim
import org.apache.spark.storage.StorageLevel
import graft.core.Gr._

/** The primitive layer every algorithm is written against — the Spark
  * analogue of cugraph's `cpp/include/cugraph/prims/` .cuh headers (SURVEY §0):
  *
  *   - `aggregateToDst/Src` ≙ `per_v_transform_reduce_incoming_outgoing_e.cuh`
  *     — a join of vertex state onto edges followed by a hash aggregation on
  *     the other endpoint. Catalyst turns it into partial (map-side) + final
  *     aggregation, which is exactly the reference's edge-partition-local
  *     reduce + cross-GPU allreduce.
  *   - `Iterate.fixpoint` ≙ the host-side iteration driver with its
  *     per-round convergence check (`pagerank_impl.cuh:311`), plus lineage
  *     control: each round is materialized (`Iterate.materialize`) so
  *     100-round loops don't build 100-deep plans, and the previous round's
  *     blocks are freed.
  *   - `topKPerKey` ≙ the per-source top-k / fanout-sampling pattern
  *     (`transform_reduce_v_frontier_outgoing_e_by_dst.cuh` + sampling).
  *   - a broadcast-join lookup ≙ `kv_store.cuh`.
  */
object AggregateMessages {

  /** Join per-vertex state onto edge sources, emit a message expression per
    * edge, reduce by destination. `state` must have an `id` column; message
    * expressions may refer to edge columns and state columns.
    *
    * Pull-based algorithms (PageRank/Katz/HITS) call this with the natural
    * edge direction; push-based (BFS/SSSP) with the frontier as `state`.
    * `store_transposed` in the reference is just this join-key choice
    * (SURVEY §1.4) — no physical transpose.
    */
  def toDst(edges: DataFrame, state: DataFrame, msg: Column, agg: Column => Column,
            out: String = "msg"): DataFrame = {
    edges.join(state.withColumnRenamed(ID, SRC), SRC)
      .select(col(DST).as(ID), msg.as("_m"))
      .groupBy(ID).agg(agg(col("_m")).as(out))
  }

  def toSrc(edges: DataFrame, state: DataFrame, msg: Column, agg: Column => Column,
            out: String = "msg"): DataFrame = {
    edges.join(state.withColumnRenamed(ID, DST), DST)
      .select(col(SRC).as(ID), msg.as("_m"))
      .groupBy(ID).agg(agg(col("_m")).as(out))
  }
}

object Iterate {

  /** Materialize a loop-state DataFrame: compute it once, store it, and
    * hand back a frame that reads the stored rows — truncating BOTH its
    * lineage and its carried plan statistics.
    *
    * Storage format: each partition of `df`'s executed plan is packed into
    * byte chunks of at most [[Packed.ChunkBytes]], each a run of
    * `[8-byte size][UnsafeRow bytes]` records — the shuffle's own row
    * encoding, with the size widened to 8 bytes so every row stays 8-byte
    * aligned. The chunk RDD is persisted at MEMORY_AND_DISK and
    * `localCheckpoint`ed; reading it points one reused UnsafeRow at each
    * record in turn, so a read deserializes nothing. Why not
    * `Dataset.localCheckpoint` at MEMORY_AND_DISK_SER (the r11-r12 store):
    * under the session's JavaSerializer every stored row went through
    * `UnsafeRow.writeExternal` and back through `ObjectInputStream` on each
    * read, and the rebase then converted every row to an external `Row` and
    * back. Packed chunks keep what SER was chosen for — the serialized
    * form's heap density, and a partition unrolled as a few large arrays
    * rather than one object per row (the r11 scale-22 leiden OOM was a
    * per-row object vector resize) — without either per-row cost.
    *
    * The packing job runs as one SQL execution of `df`'s plan (RowShim), so
    * query listeners, SQL metrics and `observe` see it as a Dataset action.
    *
    * Statistics: `localCheckpoint` keeps the *estimated* Statistics of the
    * plan it cut, and joins multiply children's sizeInBytes, so in a loop
    * whose step references the state more than once (Louvain reads `labels`
    * five times per round) the carried estimate's digit count grows
    * geometrically — within ~10 rounds every stats visit does minutes of
    * BigInteger multiplication on the driver. The returned frame is a plain
    * `LogicalRDD` leaf with the constant defaultSizeInBytes, keeping
    * planning O(plan size) per round; AQE still converts joins to broadcast
    * from true runtime shuffle sizes. [[Release.free]] drops the chunks. */
  def materialize(df: DataFrame): DataFrame = {
    val schema = df.schema
    val chunks = RowShim.withExecution(df, "materialize") { rows =>
      val packed = rows.mapPartitions(Packed.pack(schema))
      packed.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
      packed.count()
      packed
    }
    val nFields = schema.length
    RowShim.fromInternalRows(df.sparkSession,
      chunks.mapPartitions(Packed.unpack(nFields)), schema)
  }

  /** Materialize a loop-state frame and read its convergence scalar.
    *
    * The metric rides the checkpoint job itself via `observe`: the
    * CollectMetrics accumulator is read synchronously off the executed plan
    * (no listener bus, no separate count-scan job per round).
    * History: the r7 A/B measured observe SLOWER on the ECG ensemble
    * (46.3s vs 43.0s) and the scan stayed default through r11; VERDICT r11
    * item #4 (community job floor) forced a re-A/B on the r12 round
    * shapes, which flipped the verdict — same host, interleaved runs:
    * q_ecg 43.3/49.9s scan vs 43.3/46.1s observe (parity, 139→118 jobs),
    * q_louvain 41.5s/84 → 40.5s/74, q_wcc_star 20.0s/50 → 18.5s/37,
    * q_scc 16.4s/60 → 16.3s/52 (the listener-bus `Observation` variant
    * stays rejected — it blocked 100ms+ per round on async event
    * delivery). If the metric does not surface (defensive — PrimsSpec
    * asserts it does), `scan` still runs. */
  def materializeCount(df: DataFrame, metric: Column,
                       scan: DataFrame => Long): (DataFrame, Long) = {
    val named = df.observe("_graft_mc", metric.as("_m"))
    val ck = materialize(named)
    named.queryExecution.observedMetrics.get("_graft_mc") match {
      case Some(row) =>
        (ck, Option(row.getAs[Any]("_m")).map(_.asInstanceOf[Number].longValue).getOrElse(0L))
      case None => (ck, scan(ck))
    }
  }

  /** The fixpoint driver for iterative kernels — the host-side loop of the
    * reference (`pagerank_impl.cuh:311`); like Pregelix's and RaSQL's, one
    * loop serves every recursive program written on it.
    *
    * `init` is a materialized frame the driver owns from the call on. Each
    * round maps the state to `step(state, round)` (rounds count from 0) and
    * materializes it, reading `metric` (an aggregate over the round's rows)
    * off the same job through [[materializeCount]]; without a metric the
    * stop rule sees -1. `stop(prev, next, metric)` then decides whether
    * `next` is the fixpoint, and `prev` is freed ([[Release.free]]): the
    * step and the stop rule must not keep a state frame past its round.
    * The loop ends when the stop rule fires or after `maxIter` rounds, and
    * runs in the regime `rows` selects ([[Regime.scope]]).
    *
    * @return (final state, rounds run, converged); converged is false only
    *         when `maxIter` ended a loop whose stop rule never fired. */
  def fixpoint(init: DataFrame, maxIter: Int, rows: Long)(
      step: (DataFrame, Int) => DataFrame, metric: Option[Column],
      stop: (DataFrame, DataFrame, Long) => Boolean): (DataFrame, Int, Boolean) =
    fixpoint(init, maxIter, rows, rows)(step, metric, stop)

  /** [[fixpoint]] gated on `rows` with the reduce width sized to
    * `widthRows` (see [[Regime.scope]]). */
  def fixpoint(init: DataFrame, maxIter: Int, rows: Long, widthRows: Long)(
      step: (DataFrame, Int) => DataFrame, metric: Option[Column],
      stop: (DataFrame, DataFrame, Long) => Boolean): (DataFrame, Int, Boolean) =
    Regime.scope(init.sparkSession, rows, widthRows) {
      var state = init
      var round = 0
      var done = false
      while (!done && round < maxIter) {
        val raw = step(state, round)
        val (next, m) = metric match {
          case Some(mc) => materializeCount(raw, mc,
            d => Option(d.agg(mc).first().get(0)).fold(0L)(_.asInstanceOf[Number].longValue))
          case None => (materialize(raw), -1L)
        }
        done = stop(state, next, m)
        Release.free(state)
        state = next
        round += 1
      }
      (state, round, done)
    }
}

/** The packed-chunk row store behind [[Iterate.materialize]]: a partition
  * of rows becomes a few byte arrays of `[8-byte size][UnsafeRow bytes]`
  * records, and is read back through one reused UnsafeRow. */
private[prims] object Packed {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.unsafe.Platform

  /** Bound of one stored chunk; a single row larger than this is stored in
    * a chunk of its own. */
  val ChunkBytes: Int = 4 << 20
  // chunks start small and double up to ChunkBytes, so a partition of a
  // few rows does not allocate (and hold) a full chunk
  private val FirstChunkBytes = 64 << 10
  private val Base = Platform.BYTE_ARRAY_OFFSET

  def pack(schema: StructType): Iterator[InternalRow] => Iterator[Array[Byte]] = { rows =>
    // SparkPlan.execute does not promise UnsafeRow output: rows of any
    // other InternalRow class are converted before they are packed
    lazy val toUnsafe = UnsafeProjection.create(schema)
    def unsafe(r: InternalRow): UnsafeRow = r match {
      case u: UnsafeRow => u
      case other => toUnsafe(other)
    }
    new Iterator[Array[Byte]] {
      // a row already read that did not fit the last chunk; the source does
      // not reuse its buffer until its next `next()`, so holding it is safe
      private var held: UnsafeRow = null
      def hasNext: Boolean = held != null || rows.hasNext
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException
        var buf = new Array[Byte](FirstChunkBytes)
        var len = 0
        while (held != null || rows.hasNext) {
          val r = if (held != null) held else unsafe(rows.next())
          val need = 8 + r.getSizeInBytes
          if (len > 0 && len + need > ChunkBytes) {
            held = r
            return java.util.Arrays.copyOf(buf, len)
          }
          held = null
          if (len + need > buf.length)
            buf = java.util.Arrays.copyOf(buf,
              math.max(len + need, math.min(ChunkBytes, 2 * buf.length)))
          Platform.putLong(buf, Base + len, r.getSizeInBytes.toLong)
          r.writeToMemory(buf, Base + len + 8)
          len += need
        }
        if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
      }
    }
  }

  def unpack(nFields: Int): Iterator[Array[Byte]] => Iterator[InternalRow] = { chunks =>
    val row = new UnsafeRow(nFields)
    new Iterator[InternalRow] {
      private var chunk: Array[Byte] = null
      private var off = 0
      def hasNext: Boolean = {
        while ((chunk == null || off >= chunk.length) && chunks.hasNext) {
          chunk = chunks.next()
          off = 0
        }
        chunk != null && off < chunk.length
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val size = Platform.getLong(chunk, Base + off).toInt
        row.pointTo(chunk, Base + off + 8, size)
        off += 8 + size
        row
      }
    }
  }
}

/** Syntax for [[Iterate.materialize]]: `df.mat` — the required checkpoint
  * form inside every iterative loop (plain localCheckpoint carries
  * exploding stat estimates; see Iterate.materialize). */
object Mat {
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def mat: DataFrame = Iterate.materialize(df)
  }
}

/** Eager release of dead [[Iterate.materialize]] blocks.
  *
  * A materialized frame's data is one persisted, `localCheckpoint`ed RDD of
  * packed row chunks (Iterate.materialize: `[8-byte size][UnsafeRow bytes]`
  * records in byte arrays of at most 4 MB, stored deserialized at
  * MEMORY_AND_DISK — the arrays already are the compact form, so there is
  * no per-row object to serialize). Such blocks are freed only when the
  * driver GC collects the
  * RDD handle AND the ContextCleaner drains — on a long composed operator
  * that never idles the driver, effectively never. So a composed pipeline
  * (Leiden = Louvain levels + refinement WCC; ECG = ensemble + final pass)
  * holds EVERY phase's checkpoint blocks concurrently: the scale-22 leiden
  * probe needed a 48g heap where each single kernel runs in 32g, purely
  * from retained dead-phase storage. The fix is what a real engine does
  * between pipeline stages: free a phase's buffers the moment the next
  * phase's input is materialized.
  *
  * [[free]] finds the `LogicalRDD` leaves of the frame's analyzed plan —
  * the read side of every materialized frame it derives from, through any
  * projection, union or broadcast hint — and unpersists the FIRST
  * persisted RDD on each branch below them (the chunk RDD — lineage below
  * it was already truncated). It neither plans nor executes the frame
  * (`df.rdd` did both, and ran the build job of any broadcast join in it).
  * Call it ONLY on frames whose
  * data can never be read again: a loop state after the next state is
  * materialized, a phase input after the phase output is materialized.
  * Reading a freed frame throws (localCheckpointed RDDs cannot recompute),
  * so misuse fails loudly rather than silently recomputing — every free
  * site below is covered by the exact-gate suite. */
object Release {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.storage.StorageLevel

  // Spark WARNs on every unpersist of a localCheckpointed RDD ("lineage has
  // been truncated and cannot be recomputed") — here that is the intended
  // operation, on provably-dead frames, and a long loop would emit one line
  // per freed round. Quiet exactly that logger category once.
  private lazy val quietUnpersistWarn: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Unpersist the checkpoint/cache blocks behind each frame. Null-safe so
    * loop code can free an optional carried frame unconditionally. */
  def free(dfs: DataFrame*): Unit = {
    quietUnpersistWarn
    dfs.foreach(df => if (df != null) RowShim.leafRdds(df).foreach(freeRdd))
  }

  private def freeRdd(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
    else rdd.dependencies.foreach(d => freeRdd(d.rdd))
}

/** Size-aware broadcast of per-vertex state into edge joins.
  *
  * Every iterative algorithm's hot join is `edges ⋈ state-on-vertex`; when
  * the state side is known-small, broadcasting it turns the per-round
  * shuffle of the (billions-of-rows) edge table into a map-side hash join —
  * the single biggest lever for iterative cost at scale. At huge vertex
  * counts the state no longer fits in an executor and the hint degrades to
  * a plain join (AQE then picks the strategy from runtime shuffle sizes).
  * Callers pass the row count they already track (frontier size, |V|), so
  * the decision costs no extra job.
  */
object Hint {
  def state(df: DataFrame, nRows: Long, maxRows: Long = Regime.BroadcastRows): DataFrame =
    if (nRows >= 0 && nRows <= maxRows) broadcast(df) else df
}

/** The one place that decides a kernel's physical regime from the state
  * size it tracks: under the broadcast gate, state frames are broadcast
  * into edge joins ([[Hint.state]]) and the kernel runs with AQE off at a
  * reduce width sized to its state ([[Aqe.off]]); past the gate (or for an
  * unknown size, < 0) joins are plain and the session's AQE plans them.
  *
  * [[scope]] wraps a kernel body — its setup materializations as well as
  * its rounds, so the setup pays no AQE query-stage jobs either. Every
  * join inside a scope must be [[Hint.state]]-hinted or sized by the
  * scope's rows (the [[Aqe]] contract): with AQE off nothing rescues an
  * unhinted join of a large materialized frame. */
object Regime {
  /** Rows of per-vertex (or per-key) state that are still broadcast. */
  val BroadcastRows = 5000000L

  def fits(rows: Long): Boolean = rows >= 0 && rows <= BroadcastRows

  /** Run `body` in the regime `rows` selects, sizing the reduce width to
    * `rows` as well. */
  def scope[T](spark: SparkSession, rows: Long)(body: => T): T =
    scope(spark, rows, rows)(body)

  /** [[scope]] gated on `rows` with the reduce width sized to `widthRows`
    * — for loops whose reduce side outgrows the gated state. */
  def scope[T](spark: SparkSession, rows: Long, widthRows: Long)(body: => T): T =
    if (fits(rows)) Aqe.off(spark, widthRows)(body) else body
}

/** Scoped AQE disable for iterative loops whose joins are ALL explicitly
  * planned (broadcast via [[Hint.state]] or shuffle-hash-hinted).
  *
  * AQE materializes every exchange as its own query-stage job; on an
  * iterative loop that is pure scheduler floor per round — the r8 Louvain
  * audit measured 7 → 3 jobs/round at identical results, and AQE's two
  * runtime contributions (broadcast conversion, skew split) are exactly
  * the decisions such loops already make explicitly from tracked state
  * sizes. Callers must NOT wrap plans that rely on AQE's stats-blind
  * rescue (unhinted joins of materialized frames past the broadcast gate):
  * kernels enter it through [[Regime.scope]], which gates on the same size
  * bound the hints use. The flag is session-global,
  * hence the save/restore; reentrant nesting is safe (restores the outer
  * value). */
object Aqe {
  /** Operational escape hatch (and the A/B knob behind the BASELINE.md
    * job-count audits): GRAFT_KEEP_AQE=1 makes [[off]] a no-op, so a
    * deployment can re-enable AQE inside the hinted loops without a code
    * change if its host profile rewards runtime re-planning more than it
    * charges per query-stage job. */
  private val keep = sys.env.contains("GRAFT_KEEP_AQE")
  def off[T](spark: SparkSession)(body: => T): T =
    off(spark, -1L)(body)

  /** [[off]] that ALSO right-sizes reduce-side parallelism to the loop's
    * tracked row count. Disabling AQE loses its post-shuffle partition
    * coalescing, and these loops exchange SMALL frames (frontier / label /
    * pair state under the broadcast gate): at the session's full shuffle
    * width every tiny per-round exchange launches a whole task wave —
    * pure scheduler floor that AQE used to coalesce away (measured r8:
    * q_wcc_star 38.8s at fixed 32 partitions vs 23.8s under AQE on the
    * same host). Scoping `spark.sql.shuffle.partitions` to ~500k tracked
    * rows per reduce task (the same sizing rule ScaleProbe pinned at
    * scale 22, clamped to never exceed the session setting) restores the
    * coalescing deterministically — partitions sized to the DATA, which
    * is also the rule that holds at 100 TB. Reduce keys in these loops
    * are vertex-/pair-keyed, so `stateRows` bounds reduce-side rows even
    * when the map side scans a much larger edge stream. */
  def off[T](spark: SparkSession, stateRows: Long)(body: => T): T =
    if (keep) body else {
      val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val beforeParts = spark.conf.get("spark.sql.shuffle.partitions", "200")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      if (stateRows >= 0) {
        val sized = math.max(1L, math.min(beforeParts.toLong, stateRows / 500000L + 1L))
        spark.conf.set("spark.sql.shuffle.partitions", sized.toString)
      }
      try body finally {
        spark.conf.set("spark.sql.adaptive.enabled", before)
        spark.conf.set("spark.sql.shuffle.partitions", beforeParts)
      }
    }
}

object TopK {

  /** Top-k rows per key — THE canonical Spark pattern for per-source fanout
    * sampling and similarity top-k (SURVEY §2.7): window row_number ≤ k.
    * For very large fanouts a TypedImperativeAggregate reservoir would beat
    * the sort; the window form is whole-stage-codegen'd and AQE-skew-safe. */
  def perKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k).drop("_rn")
  }
}
