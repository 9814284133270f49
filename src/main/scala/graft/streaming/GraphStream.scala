package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Gr._

/** Structured-Streaming ingestion for dynamic graphs.
  *
  * The reference has NO streaming surface (SURVEY §2.9) — its only dynamic-
  * graph artifact is an unused experimental slab allocator
  * (`cpp/include/cugraph/dynamic/`). This module is the documented
  * EXTENSION: an append-only edge stream feeding (a) watermarked windowed
  * degree aggregates and (b) stateful incremental per-vertex degree/
  * neighbor summaries via `mapGroupsWithState` — the two canonical
  * Structured Streaming shapes (windowed agg; keyed state). Full
  * algorithms re-run as periodic batch jobs over the accumulated edge
  * table (micro-batch snapshot pattern), which is the honest cost model at
  * 100 TB: incremental graph algorithms shuffle the same data a stream
  * would.
  */
object GraphStream {

  /** File-backed append-only edge stream: every new parquet file under
    * `path` becomes a micro-batch of edges (src, dst, weight, event_time). */
  def edgeFileStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema("src LONG, dst LONG, weight DOUBLE, event_time TIMESTAMP")
      .parquet(path)

  /** Sliding-window degree counts with a watermark: the streaming analogue
    * of `Structure.degrees`. One shuffle per micro-batch; late edges beyond
    * the watermark are dropped, state is bounded by (#windows × V). */
  def windowedDegrees(edges: DataFrame, windowDur: String = "10 minutes",
                      slideDur: String = "5 minutes",
                      watermark: String = "15 minutes"): DataFrame = {
    val wm = edges.withWatermark("event_time", watermark)
    val out = wm.select(col("event_time"), col(SRC).as(ID))
      .union(wm.select(col("event_time"), col(DST).as(ID)))
    out.groupBy(window(col("event_time"), windowDur, slideDur), col(ID))
      .agg(count(lit(1)).as("degree"))
      .select(col("window.start").as("window_start"), col(ID), col("degree"))
  }

  /** Streaming sessionization — the Structured-Streaming cousin of
    * `pipeline.Events.sessionStats`, via the built-in `session_window`
    * (state is per open session, closed and emitted once the watermark
    * passes the session end). Semantics match the batch gaps-and-islands
    * up to the boundary convention (`session_window` closes at gap ≥ dur,
    * the batch op at gap > dur) and session identity (window start rather
    * than a per-user ordinal).
    * Output (user_id, session_start, n_events, sum_value). */
  def streamingSessionStats(events: DataFrame, gapSeconds: Long,
                            watermark: String = "1 hour",
                            userCol: String = "user_id", tsCol: String = "ts")
      : DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Per-vertex running summary maintained with keyed state: total degree,
    * weight sum, min/max neighbor — `mapGroupsWithState` over the incoming
    * edge stream keyed by source vertex (reference capability analogue:
    * incremental property maintenance on a dynamic graph). */
  final case class EdgeEvent(src: Long, dst: Long, weight: Double)
  final case class VertexSummary(id: Long, degree: Long, weightSum: Double,
                                 minNbr: Long, maxNbr: Long)

  def runningVertexSummary(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val typed = edges.select(col(SRC), col(DST), col(WEIGHT)).as[EdgeEvent]
    typed.groupByKey(_.src)
      .mapGroupsWithState[VertexSummary, VertexSummary](GroupStateTimeout.NoTimeout) {
        (id: Long, events: Iterator[EdgeEvent], state: GroupState[VertexSummary]) =>
          val prev = state.getOption.getOrElse(
            VertexSummary(id, 0L, 0.0, Long.MaxValue, Long.MinValue))
          val next = events.foldLeft(prev) { (s, e) =>
            VertexSummary(id, s.degree + 1, s.weightSum + e.weight,
              math.min(s.minNbr, e.dst), math.max(s.maxNbr, e.dst))
          }
          state.update(next)
          next
      }.toDF()
  }

  /** STREAMING exact dedup for the training-data pipeline: first-seen
    * document per content hash survives, later copies are dropped by
    * Structured Streaming's stateful dropDuplicates — state is one row per
    * distinct hash, bounded by the watermark horizon when `event_time`
    * is present (a corpus ingest never holds unbounded state). The
    * streaming twin of `pipeline.Dedup.exact`. */
  def streamingExactDedup(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          watermark: Option[String] = None): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    val wm = watermark match {
      case Some(w) => hashed.withWatermark("event_time", w)
        .dropDuplicates("content_hash", "event_time")
      case None => hashed.dropDuplicates("content_hash")
    }
    wm.select(col(idCol), col("content_hash"))
  }

  /** STREAMING MinHash signatures: the per-row signature is a pure
    * projection (shingle → k hash-min aggregates inside one expression),
    * so it runs unchanged on a stream — LSH bucket ids attach the same
    * way, making the stream joinable against a static bucket table for
    * online near-dup lookup. The streaming twin of
    * `pipeline.Dedup.minhash`. */
  def streamingMinhash(docs: DataFrame, n: Int = 3, k: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol) +: signatureCols(textCol, n, k): _*)

  /** The k signature columns `mh0 … mh{k-1}`: identical hash family to the
    * batch `Dedup.minhash`, so a streaming signature matches the batch
    * signature bit-for-bit. */
  private def signatureCols(textCol: String, n: Int, k: Int): Seq[Column] = {
    import graft.pipeline.TextOps._
    val sh = shingles(tokens(col(textCol)), n)
    (0 until k).map(i => array_min(transform(sh, s => hash60(s, i))).as(s"mh$i"))
  }

  /** One `(band, bk)` struct per band — identical band keys to the batch
    * path: md5 over the band's signature slice. */
  private def bandStructs(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col(s"mh$j").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("_", cols: _*)).as("bk"))
    }: _*)

  /** STREAMING LSH candidate mining — the third leg of the streaming
    * near-dup pipeline (exact dedup → minhash signatures → candidate
    * pairs). Arriving documents compute the SAME banded minhash keys as
    * the batch `pipeline.Dedup.minhashLshPairs`; keyed state per
    * (band, bucket) holds the doc ids seen so far, and each newcomer
    * emits a candidate pair against every resident before joining the
    * bucket — pairs surface the moment the second copy arrives, across
    * micro-batches. Multi-band double-emissions are dropped by the
    * stateful dropDuplicates stage. Jaccard VERIFICATION stays a batch
    * concern (candidates feed the same `ngramJaccard` kernel); at ingest
    * you want candidates early, not verdicts.
    * State has TWO components: (1) bucket occupancy — the identical row
    * volume the batch band self-join shuffles, so a corpus that fits the
    * batch join fits this state; (2) the pair-dedup store behind
    * `dropDuplicates(id_a, id_b)`, which holds every distinct candidate
    * pair ever emitted and is NOT bounded by bucket occupancy — for a
    * long-lived ingest, checkpoint-compact it or swap in a watermarked
    * `dropDuplicatesWithinWatermark` window (duplicate candidates across
    * far-apart windows only cost downstream verification work, never
    * correctness).
    * Documents with fewer than `n` tokens have no shingles, hence a NULL
    * signature; the batch explode produces no rows for them, so they are
    * filtered here too — otherwise every short doc would share the
    * degenerate md5("") bucket and pair up spuriously. */
  final case class BandHit(band: Int, bk: String, docId: Long)
  final case class LshBucket(ids: Seq[Long])
  final case class CandidatePair(id_a: Long, id_b: Long)

  def streamingLshCandidates(docs: DataFrame, n: Int = 3, bands: Int = 4,
                             rowsPerBand: Int = 2,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = streamingMinhash(docs, n, bands * rowsPerBand, idCol, textCol)
      .filter(col("mh0").isNotNull) // short docs: no shingles -> no bands (batch parity)
    val hits = sig.select(col(idCol).as("docId"), explode(bandStructs(bands, rowsPerBand)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bk").as("bk"), col("docId"))
      .as[BandHit]
    hits.groupByKey(h => (h.band, h.bk))
      .flatMapGroupsWithState[LshBucket, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: (Int, String), events: Iterator[BandHit], state: GroupState[LshBucket]) =>
          val have = state.getOption.map(_.ids).getOrElse(Seq.empty)
          val haveSet = have.toSet // O(1) residency checks, not O(occupancy)
          // sorted newcomer order keeps within-batch emission deterministic
          val newcomers = events.map(_.docId).toSeq.distinct.sorted
            .filterNot(haveSet)
          val pairs = Seq.newBuilder[CandidatePair]
          var resident = have
          for (d <- newcomers) {
            pairs ++= resident.map(o =>
              CandidatePair(math.min(o, d), math.max(o, d)))
            resident = resident :+ d
          }
          state.update(LshBucket(resident))
          pairs.result().iterator
      }.toDF()
      .dropDuplicates("id_a", "id_b")
  }

  final case class BandHitT(band: Int, bk: String, docId: Long,
                            ts: java.sql.Timestamp)
  /** Watermarked-bucket state: occupancy plus the MONOTONIC max event time
    * ever seen by the bucket. The eviction deadline must be keyed to this,
    * not the current batch's max — with out-of-order arrival a later batch
    * carrying only older (still in-window) events would otherwise regress
    * the deadline below allTimeMax+delay and evict residents whose
    * timestamps are still inside the watermark window. */
  final case class LshBucketT(ids: Seq[Long], maxTs: Long)
  final case class CandidatePairT(id_a: Long, id_b: Long,
                                  ts: java.sql.Timestamp)

  /** Session confs `streamingLshCandidatesWatermarked` needs AT QUERY START,
    * applied with the save/restore discipline (`prims.Aqe.off` pattern) so
    * the caller's session is left exactly as found — setting them session-
    * scoped and never restoring (the pre-r10 behavior) silenced Spark's
    * stateful-operator safety check for every later streaming query in the
    * session and switched them to a non-default watermark policy.
    *
    * Why each conf, and why they are safe HERE (and only asserted here):
    * - `statefulOperator.checkCorrectness.enabled=false`: chaining a
    *   timeout-bearing flatMapGroupsWithState into
    *   dropDuplicatesWithinWatermark trips the conservative global-watermark
    *   static check. This query is provably safe: every emitted pair carries
    *   ts = max(event time in batch) >= the batch's watermark, so the
    *   downstream dedup never receives a late row.
    * - `multipleWatermarkPolicy=max`: the query has TWO watermark nodes
    *   (corpus stream, re-watermarked pair stream). Under the default `min`
    *   the global watermark is pinned by the PAIR node, which only advances
    *   when pairs are emitted — a quiet stretch would freeze eviction
    *   forever. `max` keys state aging to the corpus stream's event time;
    *   emitted pairs can never be late against it.
    *
    * Both confs are read when the query STARTS, so wrap the `.start()` (or
    * the whole drain); restoring afterwards does not affect a running query.
    *
    * With the check disabled, Spark's `UnsupportedOperationChecker` still
    * logs the pattern it would have rejected, as a WARN with a full
    * AnalysisException stack — for a query that is safe by the argument
    * above. That logger is raised to ERROR for the body and restored
    * after, so a correctness log shows an exception only for a failure. */
  def withLshStreamingConfs[T](spark: SparkSession)(body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val wanted = Seq(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
      "spark.sql.streaming.multipleWatermarkPolicy" -> "max")
    val prior = wanted.map { case (k, _) => k -> spark.conf.getOption(k) }
    val priorLevel = LogManager.getLogger(CheckerLogger).getLevel
    wanted.foreach { case (k, v) => spark.conf.set(k, v) }
    Configurator.setLevel(CheckerLogger, Level.ERROR)
    try body
    finally {
      Configurator.setLevel(CheckerLogger, priorLevel)
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** The logger [[withLshStreamingConfs]] quiets for its body. */
  private val CheckerLogger =
    "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker"

  /** Parse the watermark-delay grammar's common units to milliseconds
    * (the same strings `withWatermark` accepts: "10 minutes", "4 hours").
    * Needed because EventTimeTimeout timestamps are set in epoch millis
    * while the delay rides through the API as the SQL interval string. */
  private[streaming] def durationMs(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"unsupported interval: '$s'")
    val n = parts(0).toLong
    parts(1) match {
      case u if u.startsWith("milli") => n
      case u if u.startsWith("sec")   => n * 1000L
      case u if u.startsWith("min")   => n * 60L * 1000L
      case u if u.startsWith("hour")  => n * 3600L * 1000L
      case u if u.startsWith("day")   => n * 86400L * 1000L
      case u => throw new IllegalArgumentException(s"unsupported interval unit: '$u'")
    }
  }

  /** [[streamingLshCandidates]] with BOTH state components bounded by the
    * watermark — the endless-corpus deployment shape:
    *
    *  - pair-dedup store: the trailing duplicate drop is
    *    `dropDuplicatesWithinWatermark`, so entries age out past the
    *    watermark delay instead of holding every pair ever emitted. A
    *    candidate re-emitted after the window only costs downstream
    *    verification work, never correctness: the Jaccard verify is
    *    idempotent per pair.
    *  - bucket occupancy (r9, closes the r8 residual): the
    *    flatMapGroupsWithState runs under `EventTimeTimeout` — a bucket
    *    whose newest member is older than the watermark delay has its
    *    occupancy list dropped entirely. The contract is the same one the
    *    watermark already imposes everywhere else: a document older than
    *    the delay is no longer a pairing candidate for new arrivals (its
    *    already-emitted pairs are unaffected). Total state is then O(docs
    *    inside the watermark window), independent of stream lifetime.
    *
    * The driver gate drains the finite fixture with a delay covering its
    * whole ingest span, so no state ages out mid-drain and the result
    * stays hash-exact against the batch band self-join. */
  def streamingLshCandidatesWatermarked(docs: DataFrame, n: Int = 3,
                                        bands: Int = 4, rowsPerBand: Int = 2,
                                        idCol: String = "doc_id",
                                        textCol: String = "text",
                                        tsCol: String = "ts",
                                        delay: String = "10 minutes"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NOTE: starting this query requires two session confs (safety-check
    // escape hatch + `max` watermark policy) — callers must wrap the
    // `.start()`/drain in `withLshStreamingConfs`, which documents the
    // safety argument and save/restores the caller's values.
    // the event-time column rides along with the signature
    val withSig = docs.withWatermark(tsCol, delay)
      .select(col(idCol) +: col(tsCol) +: signatureCols(textCol, n, bands * rowsPerBand): _*)
      .filter(col("mh0").isNotNull)
    val hits = withSig
      .select(col(idCol).as("docId"), col(tsCol).as("ts"),
        explode(bandStructs(bands, rowsPerBand)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bk").as("bk"), col("docId"), col("ts"))
      .as[BandHitT]
    val delayMs = durationMs(delay)
    hits.groupByKey(h => (h.band, h.bk))
      .flatMapGroupsWithState[LshBucketT, CandidatePairT](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), events: Iterator[BandHitT], state: GroupState[LshBucketT]) =>
          if (state.hasTimedOut) {
            // bucket idle past the watermark: drop the occupancy list —
            // its members can no longer pair with in-window arrivals
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption
            val have = prior.map(_.ids).getOrElse(Seq.empty)
            val haveSet = have.toSet
            val evs = events.toSeq
            val ts = evs.map(_.ts.getTime).max
            // monotonic: an out-of-order batch of older (in-window) events
            // must never pull the eviction deadline backwards
            val allMax = math.max(prior.map(_.maxTs).getOrElse(Long.MinValue), ts)
            val newcomers = evs.map(_.docId).distinct.sorted.filterNot(haveSet)
            val pairs = Seq.newBuilder[CandidatePairT]
            var resident = have
            for (d <- newcomers) {
              pairs ++= resident.map(o => CandidatePairT(
                math.min(o, d), math.max(o, d), new java.sql.Timestamp(ts)))
              resident = resident :+ d
            }
            state.update(LshBucketT(resident, allMax))
            // evict when the newest member falls behind the watermark;
            // the max() keeps the timestamp legal (it must sit strictly
            // past the CURRENT watermark) even for a group whose events
            // arrived near the lateness boundary
            state.setTimeoutTimestamp(
              math.max(allMax + delayMs, state.getCurrentWatermarkMs() + 1))
            pairs.result().iterator
          }
      }.toDF()
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
  }

  /** Snapshot pattern: periodically materialize the accumulated edge table
    * and run any batch algorithm over it (the documented dynamic-graph
    * story — SURVEY §1.4 "incremental graph = streaming sink appending to
    * an edge table + periodic re-run"). */
  def snapshotSink(edges: DataFrame, outPath: String, checkpoint: String,
                   triggerSeconds: Long = 60) =
    edges.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerSeconds * 1000))

  /** Run a streaming DataFrame to completion over its (finite) file source
    * and return the final result as a batch DataFrame: `Trigger
    * .AvailableNow` drains every pending file, the memory sink holds the
    * last emitted table. This is what lets the driver's DuckDB gate compare
    * an actual Structured-Streaming execution (file source → watermark/
    * stateful op → sink) against batch SQL — the gated streaming queries
    * all use ORDER-INSENSITIVE aggregations, so the result is deterministic
    * no matter how the source splits micro-batches. */
  def runToCompletion(df: DataFrame, mode: String): DataFrame = {
    val qn = "sg_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val sq = df.writeStream.format("memory").queryName(qn)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    // detach the result from the memory sink before returning: checkpoint a
    // copy (block-manager lifecycle, freed by the ContextCleaner once
    // unreferenced) and drop the UUID temp view — otherwise every call pins
    // its full result set in driver memory for the session lifetime
    val out = graft.prims.Iterate.materialize(df.sparkSession.table(qn))
    df.sparkSession.catalog.dropTempView(qn)
    out
  }
}
