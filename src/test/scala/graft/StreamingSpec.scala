package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.GraphStream
import graft.streaming.GraphStream.EdgeEvent

/** Structured-Streaming shapes driven end-to-end with MemoryStream. */
class StreamingSpec extends SparkSpec {

  test("running vertex summary accumulates across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[EdgeEvent]
    val result = GraphStream.runningVertexSummary(input.toDF())
    val q = result.writeStream.format("memory").queryName("vsum")
      .outputMode("update").start()
    try {
      input.addData(EdgeEvent(1L, 2L, 1.0), EdgeEvent(1L, 3L, 2.0))
      q.processAllAvailable()
      input.addData(EdgeEvent(1L, 9L, 4.0), EdgeEvent(2L, 1L, 1.0))
      q.processAllAvailable()
      val rows = sp.sql("select * from vsum").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      // latest update for vertex 1: degree 3, weight 7, nbrs [2,9]
      val v1 = rows.filter(_._1 == 1L).maxBy(_._2)
      assert(v1 == ((1L, 3L, 7.0, 2L, 9L)))
      val v2 = rows.filter(_._1 == 2L).maxBy(_._2)
      assert(v2._2 == 1L && v2._3 == 1.0)
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first-seen copy across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val result = GraphStream.streamingExactDedup(docs)
    val q = result.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta"), (2L, "gamma delta"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta"), (4L, "epsilon zeta")) // 3 is a dup of 1
      q.processAllAvailable()
      val ids = sp.sql("select doc_id from sdedup").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), s"expected dup 3 dropped, got $ids")
    } finally q.stop()
  }

  test("streaming minhash signatures equal the batch signatures") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the dog"),
      (2L, "completely different words entirely here now")).toDF("doc_id", "text")
    val batch = graft.pipeline.Dedup.minhash(docs, n = 3, k = 4).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getLong(i))).toMap
    val stream = GraphStream.streamingMinhash(docs, n = 3, k = 4).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getLong(i))).toMap
    assert(batch == stream)
  }

  test("streaming LSH candidates pair a near-dup across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val result = GraphStream.streamingLshCandidates(docs, n = 3, bands = 4, rowsPerBand = 2)
    val q = result.writeStream.format("memory").queryName("slsh")
      .outputMode("append").start()
    try {
      val near = "the quick brown fox jumps over the lazy dog again and again"
      input.addData((1L, near), (2L, "completely unrelated words appear in this document body"))
      q.processAllAvailable()
      // doc 3 arrives a micro-batch later, near-identical to doc 1
      input.addData((3L, near + " tail"), (4L, "another disjoint set of tokens lives here instead"))
      q.processAllAvailable()
      val pairs = sp.sql("select id_a, id_b from slsh").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 3L)), s"cross-batch near-dup pair missing: $pairs")
      assert(!pairs.contains((2L, 4L)), s"dissimilar docs paired: $pairs")
      // cross-check against the batch band join on the full corpus: the
      // streaming candidate set must match (same signatures, same bands)
      val all = Seq((1L, near), (2L, "completely unrelated words appear in this document body"),
        (3L, near + " tail"), (4L, "another disjoint set of tokens lives here instead"))
        .toDF("doc_id", "text")
      val batch = graft.pipeline.Dedup.minhashLshPairs(all, n = 3, bands = 4,
        rowsPerBand = 2, threshold = 0.0)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == batch, s"stream $pairs != batch $batch")
    } finally q.stop()
  }

  test("streaming LSH drops short docs with empty signatures (batch parity)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val result = GraphStream.streamingLshCandidates(docs, n = 3, bands = 4, rowsPerBand = 2)
    val q = result.writeStream.format("memory").queryName("slsh_short")
      .outputMode("append").start()
    try {
      // docs 1-3 have < 3 tokens: no shingles, NULL signature. Pre-fix they
      // all landed in the shared md5("") bucket and paired spuriously.
      input.addData((1L, "hi"), (2L, "yo"), (3L, "one two"))
      q.processAllAvailable()
      input.addData((4L, "ok"), (5L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val pairs = sp.sql("select id_a, id_b from slsh_short").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.pipeline.Dedup.minhashLshPairs(
        Seq((1L, "hi"), (2L, "yo"), (3L, "one two"), (4L, "ok"),
          (5L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.0)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == batch, s"stream $pairs != batch $batch")
      assert(pairs.isEmpty, s"short docs must not pair: $pairs")
    } finally q.stop()
  }

  test("watermarked LSH candidates: cross-batch pair found, dedup state bounded by watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val result = GraphStream.streamingLshCandidatesWatermarked(docs,
      n = 3, bands = 4, rowsPerBand = 2, delay = "10 minutes")
    // confs are read at query start; the wrapper must enclose .start() and
    // restores the session values before the drain below
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val polKey = "spark.sql.streaming.multipleWatermarkPolicy"
    val priorCheck = sp.conf.getOption(checkKey)
    val priorPol = sp.conf.getOption(polKey)
    // the checker's WARN for the disabled check is quieted for the body only
    val checker = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker")
    val priorLevel = checker.getLevel
    val q = GraphStream.withLshStreamingConfs(sp) {
      assert(checker.getLevel == org.apache.logging.log4j.Level.ERROR)
      result.writeStream.format("memory").queryName("slsh_wm")
        .outputMode("append").start()
    }
    // the session is left exactly as found (the r9 leak: later queries in
    // the same session ran with the safety check silenced)
    assert(sp.conf.getOption(checkKey) == priorCheck)
    assert(sp.conf.getOption(polKey) == priorPol)
    assert(checker.getLevel == priorLevel)
    try {
      val near = "the quick brown fox jumps over the lazy dog again and again"
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:05:00")
      input.addData((1L, near, t0), (2L, "completely unrelated words appear in this document body", t0))
      q.processAllAvailable()
      input.addData((3L, near + " tail", t1))
      q.processAllAvailable()
      // advance the watermark so the (1,3) dedup entry can age out
      input.addData((9L, "far future unrelated tokens entirely disjoint content", java.sql.Timestamp.valueOf("2026-01-01 06:00:00")))
      q.processAllAvailable()
      val pairs = sp.sql("select id_a, id_b from slsh_wm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 3L)), s"cross-batch near-dup pair missing: $pairs")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"dissimilar doc paired: $pairs")
      // multi-band double emission within the watermark window collapsed
      assert(sp.sql("select * from slsh_wm where id_a=1 and id_b=3").count() == 1)
      // bucket-occupancy eviction (EventTimeTimeout): docs 1/3 are now far
      // behind the watermark (05:50) — one more batch fires their bucket's
      // timeout, so a late near-dup arrival must NOT pair with them
      input.addData((11L, "another future filler with distinct vocabulary", java.sql.Timestamp.valueOf("2026-01-01 06:01:00")))
      q.processAllAvailable()
      input.addData((10L, near, java.sql.Timestamp.valueOf("2026-01-01 06:02:00")))
      q.processAllAvailable()
      val after = sp.sql("select id_a, id_b from slsh_wm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.contains((1L, 10L)) && !after.contains((3L, 10L)),
        s"evicted bucket still paired with new arrival: $after")
    } finally q.stop()
  }

  test("gated streaming queries are micro-batch-split invariant (1 batch vs per-row)") {
    // SURVEY §5c extension to the three driver-gated streaming queries:
    // the batch split is the streaming analogue of input partitioning —
    // the gate's order-insensitive rollups must not depend on it.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (4L, "epsilon zeta"), (5L, "gamma delta"))
    def dedup(splits: Seq[Seq[(Long, String)]]): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      val q = GraphStream.streamingExactDedup(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("mbi_dedup")
        .outputMode("append").start()
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        sp.sql("select doc_id from mbi_dedup").collect().map(_.getLong(0)).toSet
      } finally { q.stop(); sp.catalog.dropTempView("mbi_dedup") }
    }
    assert(dedup(Seq(docs)) == dedup(docs.map(Seq(_))))
    val edges = Seq(EdgeEvent(1L, 2L, 1.0), EdgeEvent(1L, 3L, 2.0),
      EdgeEvent(2L, 1L, 1.0), EdgeEvent(1L, 9L, 4.0))
    def vsum(splits: Seq[Seq[EdgeEvent]]): Map[Long, (Long, Double, Long, Long)] = {
      val input = MemoryStream[EdgeEvent]
      val q = GraphStream.runningVertexSummary(input.toDF())
        .writeStream.format("memory").queryName("mbi_vsum")
        .outputMode("update").start()
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // final per-vertex state = max(degree) row, the gate's rollup
        sp.sql("select * from mbi_vsum").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      } finally { q.stop(); sp.catalog.dropTempView("mbi_vsum") }
    }
    assert(vsum(Seq(edges)) == vsum(edges.map(Seq(_))))
    def wcount(splits: Seq[Seq[(Long, Long, Double, java.sql.Timestamp)]]): Map[Long, Long] = {
      val input = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
      val q = GraphStream.windowedDegrees(
          input.toDF().toDF("src", "dst", "weight", "event_time"),
          windowDur = "10 minutes", slideDur = "10 minutes", watermark = "1 hour")
        .writeStream.format("memory").queryName("mbi_wc")
        .outputMode("append").start()
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // flush: a far-future event closes all real windows in append mode
        input.addData((99L, 98L, 1.0, java.sql.Timestamp.valueOf("2026-01-02 00:00:00")))
        q.processAllAvailable()
        sp.sql("select * from mbi_wc").collect()
          .filter(_.getLong(1) < 90L).map(r => r.getLong(1) -> r.getLong(2)).toMap
      } finally { q.stop(); sp.catalog.dropTempView("mbi_wc") }
    }
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:02:00")
    val wevts = Seq((1L, 2L, 1.0, t0), (1L, 3L, 1.0, t1), (2L, 3L, 1.0, t1))
    assert(wcount(Seq(wevts)) == wcount(wevts.map(Seq(_))))
  }

  test("watermarked LSH and append-mode sessions are micro-batch-split invariant") {
    // SURVEY §5c rows for the r8 bounded-state gates: the emitted SET must
    // not depend on how the source splits into micro-batches (rows arrive
    // in event-time order, as the gate's monotone synthetic ts guarantees).
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val near = "the quick brown fox jumps over the lazy dog again and again"
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val ldocs = Seq((1L, near, t(0)),
      (2L, "completely unrelated words appear in this document body", t(1)),
      (3L, near + " tail", t(2)),
      (4L, near + " other tail words", t(3)))
    def lsh(splits: Seq[Seq[(Long, String, java.sql.Timestamp)]]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = GraphStream.withLshStreamingConfs(sp) {
        GraphStream.streamingLshCandidatesWatermarked(
            input.toDF().toDF("doc_id", "text", "ts"),
            n = 3, bands = 4, rowsPerBand = 2, delay = "4 hours")
          .writeStream.format("memory").queryName("mbi_lshwm")
          .outputMode("append").start()
      }
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        sp.sql("select id_a, id_b from mbi_lshwm").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally { q.stop(); sp.catalog.dropTempView("mbi_lshwm") }
    }
    val one = lsh(Seq(ldocs))
    assert(one.nonEmpty && one.contains((1L, 3L)))
    assert(lsh(ldocs.map(Seq(_))) == one)
    // fed in event-time order: with a 0-second delay any out-of-order row
    // would be a late drop in the per-row split (the gate never hits this
    // — its single-file source drains in one batch)
    val evts = Seq((7L, t(0), 1.0), (8L, t(1), 3.0), (7L, t(2), 2.0),
      (7L, t(30), 4.0), (9L, t(45), 5.0))
    def sess(splits: Seq[Seq[(Long, java.sql.Timestamp, Double)]]): Set[(Long, Long, Long)] = {
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = GraphStream.streamingSessionStats(
          input.toDF().toDF("user_id", "ts", "value"),
          gapSeconds = 600L, watermark = "0 seconds")
        .writeStream.format("memory").queryName("mbi_sess")
        .outputMode("append").start()
      try {
        splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        sp.sql("select user_id, session_start, n_events from mbi_sess").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
      } finally { q.stop(); sp.catalog.dropTempView("mbi_sess") }
    }
    val sOne = sess(Seq(evts))
    // sessions closed by the final watermark (t45): user 7's {t0,t2} pair,
    // user 8's {t1}, and user 7's {t30} (end t40 < t45); user 9's t45
    // session stays open (end t55 beyond the watermark) and must NOT emit
    assert(sOne == Set((7L, t(0).getTime, 2L), (8L, t(1).getTime, 1L),
      (7L, t(30).getTime, 1L)), s"unexpected emitted session set: $sOne")
    assert(sess(evts.map(Seq(_))) == sOne)
  }

  test("windowed degrees respect the event-time window") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val edges = input.toDF().toDF("src", "dst", "weight", "event_time")
    val result = GraphStream.windowedDegrees(edges,
      windowDur = "10 minutes", slideDur = "10 minutes", watermark = "1 hour")
    val q = result.writeStream.format("memory").queryName("wdeg")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:02:00")
      input.addData((1L, 2L, 1.0, t0), (1L, 3L, 1.0, t1))
      q.processAllAvailable()
      // force watermark far past the window so append-mode emits it
      input.addData((7L, 8L, 1.0, java.sql.Timestamp.valueOf("2026-01-01 09:00:00")))
      q.processAllAvailable()
      input.addData((7L, 9L, 1.0, java.sql.Timestamp.valueOf("2026-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = sp.sql("select * from wdeg").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(rows(1L) == 2L) // vertex 1 has degree 2 in the first window
    } finally q.stop()
  }

  test("streaming session_window equals the batch gaps-and-islands rollup") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + m * 60000L)
    // user 1: events at 0,10min then a 3h hole then 200min; user 2: one event
    val data = Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(200), 4.0),
      (2L, ts(5), 8.0))
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = GraphStream.streamingSessionStats(
      input.toDF().toDF("user_id", "ts", "value"), gapSeconds = 3600)
    val q = stream.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      // flush event far in the future advances the watermark → all real
      // sessions close and emit
      input.addData((9L, ts(10000), 0.0))
      q.processAllAvailable()
      val got = sp.sql("select * from sess").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      // batch reference on the same rows (session id → (n_events, value))
      val batch = graft.pipeline.Events.sessionStats(
        data.toDF("user_id", "ts", "value")
          .withColumn("event_id", col("value").cast("long")), gapSeconds = 3600)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(5))).toSet
      assert(got == batch, s"streaming $got vs batch $batch")
    } finally q.stop()
  }
}
