package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private var sink = 0
  private def runToCompletion[T](stream: org.apache.spark.sql.Dataset[T],
      mode: OutputMode): Seq[org.apache.spark.sql.Row] = {
    sink += 1
    val name = s"sink$sink"
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).collect().toSeq
  }

  test("F1: watermarked windowed aggregation over a memory stream") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(1, ts(1), 10, "click", 1.0),
      StreamEvent(2, ts(5), 10, "click", 2.0),
      StreamEvent(3, ts(12), 11, "view", 5.0))
    val rows = runToCompletion(
      Streams.windowedCounts(input.toDF()), OutputMode.Complete)
    val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(byKey(("2024-01-01 00:00:00.0", "click")) == (2L, 3.0))
    assert(byKey(("2024-01-01 00:10:00.0", "view")) == (1L, 5.0))
  }

  test("F2: stateful sessionization closes sessions after the gap") {
    val input = MemoryStream[StreamEvent](spark)
    // session 1: minutes 0-10; gap > 30 min; session 2: minute 50
    input.addData(
      StreamEvent(1, ts(0), 7, "click", 1.0),
      StreamEvent(2, ts(10), 7, "click", 1.0),
      StreamEvent(3, ts(50), 7, "click", 1.0))
    // advance watermark far past everything so the open session times out
    input.addData(StreamEvent(99, ts(600), 8, "click", 1.0))
    val sessions = runToCompletion(Streams.sessionize(input.toDS()), OutputMode.Append)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 == 7L).sortBy(_._2)
    assert(sessions.map(s => (s._3 - s._2) / 60) == Seq(10L, 0L),
      s"got $sessions")
    assert(sessions.map(_._4) == Seq(2L, 1L))
  }

  test("F1b: file-source ingest with checkpointed restart honors the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (land, out, chk) = (s"$base/land", s"$base/out", s"$base/chk")
    def runOnce(): Unit = {
      val q = Streams.windowedCounts(Streams.readEvents(spark, land))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two windows of events
    Seq(StreamEvent(1, ts(1), 1, "click", 1.0),
      StreamEvent(2, ts(5), 1, "click", 2.0),
      StreamEvent(3, ts(12), 2, "view", 5.0)).toDS()
      .coalesce(1).write.mode("append").parquet(land)
    runOnce() // advances the watermark; append emits nothing yet
    // batch 2: much later event closes the earlier windows on restart
    Seq(StreamEvent(9, ts(600), 3, "click", 1.0)).toDS()
      .coalesce(1).write.mode("append").parquet(land)
    runOnce() // restart from checkpoint picks up ONLY the new file
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(rows(("2024-01-01 00:00:00.0", "click")) == (2L, 3.0))
    assert(rows(("2024-01-01 00:10:00.0", "view")) == (1L, 5.0))
  }

  test("F14: streaming near-dup screen flags index collisions, passes novel docs") {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the quick brown fox is tired of jumping over dogs"
    val d = java.nio.file.Files.createTempDirectory("graft_screen").toString
    Seq((0L, base, "en", "s", base.length.toLong),
        (1L, "totally separate subject matter covering distributed query engines and storage formats", "en", "s", 80L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val index = graft.operators.Dedup.bandIndex(spark, d)
    val input = MemoryStream[(Long, String)](spark)
    input.addData(
      (100L, base.replace("lazy", "sleepy")), // near-dup of indexed doc 0
      (101L, "unrelated words about cooking pasta with garlic and fresh basil leaves tonight"))
    val rows = runToCompletion(
      Streams.nearDupScreen(input.toDF().toDF("doc_id", "text"), index),
      OutputMode.Append)
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 100L && p._2 == 0L && p._3 >= 0.5),
      s"near-dup not flagged: $pairs")
    assert(!pairs.exists(_._1 == 101L), s"novel doc flagged: $pairs")
    // multi-band collisions of the same pair must emit exactly one row
    assert(pairs.count(p => p._1 == 100L && p._2 == 0L) == 1)
  }

  test("F15: streaming quality gate admits a clean doc, quarantines violators statelessly") {
    val good = (("the of " * 3) + "word " * 44).trim // 50 words, 2 stops
    val tooShort = "the of short"
    val noStops = ("word " * 60).trim
    val input = MemoryStream[(Long, String)](spark)
    input.addData((1L, good), (2L, tooShort))
    input.addData((3L, noStops)) // second micro-batch — no cross-batch state
    val rows = runToCompletion(
      Streams.qualityGate(input.toDF().toDF("doc_id", "text")),
      OutputMode.Append)
    val byId = rows.map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3))).toMap
    assert(byId(1L) == (true, 0L))
    assert(byId(2L)._1 == false && byId(2L)._2 >= 1L)
    assert(byId(3L) == (false, 1L)) // exactly the stop-word rule failed
  }

  test("F16: streaming cell router matches the ingested store's cell assignment") {
    // short docs (< chunkSize tokens) chunk to themselves, so the store's
    // chunk-1 cell IS the whole-doc cell the router must reproduce
    val d = java.nio.file.Files.createTempDirectory("graft_router").toString + "/ix"
    val texts = (0L until 20L).map(i =>
      (i, (1 to 10).map(j => s"tok${i}_$j").mkString(" ")))
    val docs = texts.toDF("doc_id", "text")
    graft.operators.VectorStore.ingest(docs, d)
    val indexed = spark.read.parquet(d)
      .filter(col("chunk_ix") === 1)
      .select("doc_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = Streams.loadCentroids(spark, d)
    val input = MemoryStream[(Long, String)](spark)
    input.addData(texts.take(10): _*)
    input.addData(texts.drop(10): _*)
    val rows = runToCompletion(
      Streams.cellRouter(input.toDF().toDF("doc_id", "text"), cents),
      OutputMode.Append)
    val routed = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(routed.size == 20)
    routed.foreach { case (id, cell) =>
      assert(cell == indexed(id),
        s"doc $id routed to $cell but indexed in ${indexed(id)}")
    }
  }

  test("F6: streaming dedup drops replayed events within the watermark") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(1, ts(1), 1, "click", 1.0),
      StreamEvent(1, ts(1), 1, "click", 1.0), // same-batch replay
      StreamEvent(2, ts(2), 1, "view", 2.0))
    input.addData(
      StreamEvent(1, ts(1), 1, "click", 1.0)) // cross-batch replay
    val rows = runToCompletion(
      Streams.dedupEvents(input.toDF()), OutputMode.Append)
    assert(rows.map(_.getLong(0)).sorted == Seq(1L, 2L))
  }

  test("F3: keep-latest upsert state tracks the newest event per key") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(1, ts(1), 1, "click", 1.0),
      StreamEvent(5, ts(9), 1, "click", 1.0),
      StreamEvent(3, ts(4), 1, "click", 1.0))
    val rows = runToCompletion(Streams.keepLatest(input.toDS()), OutputMode.Update)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.contains((1L, "click", 5L)))
  }

  test("F26: streaming CDC compaction — tombstones win, late upserts cannot resurrect") {
    val input = MemoryStream[StreamEvent](spark)
    val q = Streams.cdcCompact(input.toDS())
      .writeStream.format("memory").queryName("cdc_sink")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: two live upserts
      input.addData(
        StreamEvent(1, ts(1), 1, "click", 1.0),
        StreamEvent(2, ts(1), 2, "purchase", 2.0))
      q.processAllAvailable()
      // batch 2: user 1 is tombstoned at t=5
      input.addData(StreamEvent(3, ts(5), 1, "error", 0.0))
      q.processAllAvailable()
      // batch 3: a LATE out-of-order upsert for user 1 at t=3 — older
      // than the tombstone, must NOT resurrect the key
      input.addData(StreamEvent(4, ts(3), 1, "view", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cdc_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getBoolean(4)))
    // Update mode re-emits the key's current snapshot row each batch it
    // appears in; the LAST emission per key is the final state
    val finalByKey = rows.groupBy(_._1).view
      .mapValues(_.maxBy(c => (c._3, c._2))).toMap
    assert(finalByKey(2L) == ((2L, 2L, 1704067260L, "purchase", true)))
    // user 1's newest change stays the tombstone (event 3 at t=5),
    // live = false, even after the late event-4 upsert arrived
    assert(finalByKey(1L) == ((1L, 3L, 1704067500L, "error", false)),
      s"tombstone lost: ${finalByKey(1L)}")
    // and the late upsert emitted the UNCHANGED snapshot (still the
    // tombstone), never a live row newer than it
    val user1Lives = rows.filter(r => r._1 == 1L && r._5)
    assert(user1Lives.forall(_._2 == 1L),
      s"a late upsert resurrected user 1: ${user1Lives.toSeq}")
  }

  test("F8: native session_window groups events by inactivity gap") {
    val input = MemoryStream[StreamEvent](spark)
    // user 1: events at minutes 0 and 10 (one session), then minute 50
    // (gap > 30 min => a second session)
    input.addData(
      StreamEvent(1, ts(0), 1, "click", 1.0),
      StreamEvent(2, ts(10), 1, "view", 1.0),
      StreamEvent(3, ts(50), 1, "click", 1.0),
      StreamEvent(4, ts(5), 2, "click", 1.0))
    val rows = runToCompletion(
      Streams.sessionWindows(input.toDF()), OutputMode.Complete)
      .map(r => (r.getLong(2), r.getTimestamp(0).toString, r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(rows == Seq(
      (1L, "2024-01-01 00:00:00.0", 2L),
      (1L, "2024-01-01 00:50:00.0", 1L),
      (2L, "2024-01-01 00:05:00.0", 1L)))
  }

  test("F7: stream-stream interval join matches only in-range same-user clicks") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(100, ts(90), 1, "purchase", 0.0),
      StreamEvent(10, ts(70), 1, "click", 1.5),  // 20 min before → in range
      StreamEvent(11, ts(91), 1, "click", 2.5),  // after the purchase → out
      StreamEvent(12, ts(50), 1, "click", 3.5),  // 40 min before → out
      StreamEvent(13, ts(80), 2, "click", 4.5),  // other user → out
      StreamEvent(101, ts(120), 2, "purchase", 0.0),
      StreamEvent(14, ts(119), 2, "click", 6.5)) // 1 min before → in range
    val rows = runToCompletion(
      Streams.clicksBeforePurchase(input.toDF()), OutputMode.Append)
      .map(r => (r.getLong(0), r.getDouble(4))).sorted
    assert(rows == Seq((100L, 1.5), (101L, 6.5)))
  }

  test("F13: outer stream-stream join emits clickless purchases null-padded") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(100, ts(90), 1, "purchase", 0.0),
      StreamEvent(10, ts(70), 1, "click", 1.5),   // in range → matched
      StreamEvent(101, ts(95), 2, "purchase", 0.0)) // no click at all
    // advance BOTH watermarks far past the join window so the unmatched
    // purchase's wait expires and the null-padded row is emitted
    input.addData(
      StreamEvent(998, ts(600), 9, "click", 0.0),
      StreamEvent(999, ts(600), 9, "purchase", 0.0))
    val rows = runToCompletion(
      Streams.clicksBeforePurchaseOuter(input.toDF()), OutputMode.Append)
      .filter(r => r.getLong(0) < 900)
      .map(r => (r.getLong(0), if (r.isNullAt(4)) null else r.getDouble(4)))
      .sortBy(_._1)
    assert(rows == Seq((100L, 1.5), (101L, null)))
  }

  test("F10: streaming index maintenance appends each micro-batch to the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val indexDir = java.nio.file.Files.createTempDirectory("graft_sidx").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sckpt").toString
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Streams.indexMaintenance(docs, indexDir, ckpt)
    try {
      input.addData((1L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(indexDir).count()
      assert(after1 > 0)
      input.addData((2L, "zeta eta theta iota kappa"))
      q.processAllAvailable()
      spark.catalog.refreshByPath(indexDir)
      val idx = spark.read.parquet(indexDir)
      assert(idx.count() > after1)
      assert(idx.select("doc_id").distinct().count() == 2)
      // the streamed-in doc is retrievable through the same search path
      val hit = graft.operators.VectorStore
        .search(spark, indexDir, "zeta eta theta iota kappa", 1).collect()
      assert(hit.head.getLong(1) == 2L)
    } finally q.stop()
    // a crash after the store write but before the commit-log entry:
    // restart re-delivers the last micro-batch, which must replace its
    // chunks, not store them twice
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Seq(last, s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    spark.catalog.refreshByPath(indexDir)
    val before = spark.read.parquet(indexDir).count()
    val q2 = Streams.indexMaintenance(docs, indexDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    spark.catalog.refreshByPath(indexDir)
    val idx = spark.read.parquet(indexDir)
    val twice = idx.groupBy("doc_id", "chunk_ix").count()
      .filter(col("count") > 1).collect()
    assert(twice.isEmpty, s"replayed batch stored chunks twice: ${twice.toSeq}")
    assert(idx.count() == before, "replayed batch changed the chunk count")
  }

  test("F19: streaming quantile monitor folds micro-batches, matches batch") {
    // values spread over buckets in window 0, split across two batches;
    // a second (window, type) group lands in window 1
    val b1 = (1 to 8).map(i => StreamEvent(i.toLong, ts(1 + i % 5), 1, "click", i * 7.0))
    val b2 = (9 to 16).map(i => StreamEvent(i.toLong, ts(1 + i % 5), 1, "click", i * 7.0)) :+
      StreamEvent(99, ts(12), 2, "view", 55.0)
    val input = MemoryStream[StreamEvent](spark)
    input.addData(b1: _*)
    val q = Streams.quantileMonitor(input.toDF())
      .writeStream.format("memory").queryName("qh_mon")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qh_mon").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = (b1 ++ b2).toDF()
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "10 minutes"),
        col("event_type"))
      .agg(org.apache.spark.sql.functions.call_function("graft_qhist",
        col("value"), org.apache.spark.sql.functions.lit(10.0d),
        org.apache.spark.sql.functions.lit(0.5d),
        org.apache.spark.sql.functions.lit(0.99d)).as("q"))
      .select(col("window.start"), col("event_type"),
        col("q.p50_edge"), col("q.p99_edge"), col("q.n_events"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(streamed(("2024-01-01 00:10:00.0", "view")) == (60L, 60L, 1L))
  }

  test("F22: overlap monitor folds micro-batches, estimates exactly when unsaturated") {
    // window 0: clickers {1..6}, purchasers {4..8} → overlap {4,5,6} = 3,
    // conversion 3/6; split across two micro-batches so the sketch's
    // merge path runs. window 1: clickers only → zero purchasers, null-
    // safe conversion. views must be ignored entirely.
    val b1 = (1 to 4).map(u => StreamEvent(u.toLong, ts(2), u.toLong, "click", 1.0)) ++
      Seq(StreamEvent(10, ts(3), 4, "purchase", 9.0),
        StreamEvent(11, ts(3), 7, "purchase", 9.0),
        StreamEvent(12, ts(4), 999, "view", 0.0))
    val b2 = (5 to 6).map(u => StreamEvent(20 + u.toLong, ts(5), u.toLong, "click", 1.0)) ++
      Seq(StreamEvent(30, ts(6), 5, "purchase", 9.0),
        StreamEvent(31, ts(6), 6, "purchase", 9.0),
        StreamEvent(32, ts(7), 8, "purchase", 9.0),
        StreamEvent(33, ts(14), 42, "click", 1.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(b1: _*)
    val q = Streams.overlapMonitor(input.toDF())
      .writeStream.format("memory").queryName("ovl_mon")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ovl_mon").collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).toMap
    // unsaturated sketches (6, 5 distinct « k=128) → estimates are EXACT
    val (ec, ep, eb, conv) = rows("2024-01-01 00:00:00.0")
    assert(ec == 6.0 && ep == 5.0 && eb == 3.0)
    assert(math.abs(conv - 0.5) < 1e-12)
    val (ec1, ep1, eb1, conv1) = rows("2024-01-01 00:10:00.0")
    assert(ec1 == 1.0 && ep1 == 0.0 && eb1 == 0.0 && conv1 == 0.0)
    // micro-batch fold == one-shot batch aggregation, bit-for-bit
    val batch = Streams.overlapMonitor((b1 ++ b2).toDF()).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).toMap
    assert(rows.keySet == batch.keySet)
    rows.keys.foreach { k =>
      assert(rows(k).toString == batch(k).toString, s"window $k drifted") }
  }

  test("F18: drift monitor passes a baseline-like window, flags a junk window") {
    // baseline corpus: well-formed prose (stopwords present, sane word
    // lengths) mixed with some short fragments — a realistic accepted mix
    val prose = (1 to 30).map(i =>
      "the be to of and that have with " +
        (1 to 60).map(j => s"word$i$j").mkString(" "))
    val frags = (1 to 10).map(i => s"short fragment $i")
    val base = Streams.qualityBaseline(
      (prose ++ frags).zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
    // window 0: drawn from the same mix → PSI small; window 1: symbol
    // junk with no stopwords → distribution collapses into low buckets
    val wStable = (prose.take(15) ++ frags.take(5)).zipWithIndex
      .map { case (t, i) => (i.toLong, ts(2), t) }
    val wJunk = (1 to 20).map(i => (100L + i, ts(12), "### ... ### ..."))
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    input.addData(wStable ++ wJunk: _*)
    val rows = runToCompletion(
      Streams.driftMonitor(
        input.toDF().toDF("doc_id", "ts", "text"), base),
      OutputMode.Complete)
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (nS, psiS, driftS) = rows("2024-01-01 00:00:00.0")
    val (nJ, psiJ, driftJ) = rows("2024-01-01 00:10:00.0")
    assert(nS == 20L && nJ == 20L)
    assert(!driftS && psiS < 0.2, s"stable window drifted: psi=$psiS")
    assert(driftJ && psiJ > 0.2, s"junk window not flagged: psi=$psiJ")
    // PSI is asymmetric but must still separate the windows by an order
    // of magnitude on this construction
    assert(psiJ > 10 * psiS, s"separation too weak: $psiS vs $psiJ")
  }

  test("F28: Benford monitor passes a conforming window, flags a fabricated one") {
    // window 0: 100 amounts whose leading digits follow Benford's law
    // (30/18/12/10/8/7/6/5/4) — hand-computed max deviation 5757 ppm
    // (digit 9: 40000 observed vs 45757 expected); window 1: twenty
    // amounts all leading-digit 5, the fabricated-feed shape — digit 5
    // reads 1e6 ppm vs 79181 expected, deviation 920819
    val benford = Seq(30, 18, 12, 10, 8, 7, 6, 5, 4)
    val wGood = benford.zipWithIndex.flatMap { case (n, ix) =>
      (0 until n).map(k =>
        StreamEvent((ix * 100 + k).toLong, ts(2), 1L, "purchase",
          (ix + 1).toDouble))
    }
    val wBad = (1 to 20).map(i =>
      StreamEvent(1000L + i, ts(12), 1L, "purchase", 5.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(wGood ++ wBad: _*)
    val rows = runToCompletion(
      Streams.benfordMonitor(input.toDF()), OutputMode.Complete)
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val (nG, devG, flagG) = rows("2024-01-01 00:00:00.0")
    val (nB, devB, flagB) = rows("2024-01-01 00:10:00.0")
    assert(nG == 100L && nB == 20L)
    assert(devG == 5757L && !flagG,
      s"conforming window misread: dev=$devG flagged=$flagG")
    assert(devB == 920819L && flagB,
      s"fabricated window not flagged: dev=$devB flagged=$flagB")
  }

  test("F28: zero and negative amounts carry no leading digit and are excluded") {
    // Benford is defined on positive magnitudes: a zero amount's digit 0
    // must not inflate n_rows (deflating every observed ppm), and a
    // negative amount's sign character must not sneak in as null
    val ones = (1 to 10).map(i =>
      StreamEvent(i.toLong, ts(2), 1L, "purchase", 1.0))
    val junk = Seq(
      StreamEvent(100L, ts(2), 1L, "purchase", 0.0),
      StreamEvent(101L, ts(2), 1L, "purchase", -3.5),
      StreamEvent(102L, ts(2), 1L, "purchase", -0.01))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(ones ++ junk: _*)
    val rows = runToCompletion(
      Streams.benfordMonitor(input.toDF()), OutputMode.Complete)
    assert(rows.length == 1)
    val r = rows.head
    // 10 positive rows, all digit 1: obs 1e6 ppm vs 301030 expected
    assert(r.getLong(1) == 10L,
      s"n_rows=${r.getLong(1)} — non-positive amounts were counted")
    assert(r.getLong(2) == 1000000L - 301030L && r.getBoolean(3),
      s"dev=${r.getLong(2)} flagged=${r.getBoolean(3)}")
  }

  test("F29: streaming profile monitor merges across micro-batches, " +
      "matches batch, flags nulls") {
    // rows split across two micro-batches inside one window: the merged
    // streamed profile must equal a single batch profile of all rows —
    // the sketch-merge property that makes the monitor exactly-once-safe
    val b1 = (0 until 6).map(i =>
      StreamEvent(i.toLong, ts(1 + i % 5), 100L + i, "click", i + 0.5))
    val b2 = (6 until 10).map(i =>
      StreamEvent(i.toLong, ts(1 + i % 5), 100L + i, "view", i + 0.5)) :+
      StreamEvent(99L, ts(3), 500L, null, 1.0) // a null event_type row
    val input = MemoryStream[StreamEvent](spark)
    input.addData(b1: _*)
    val q = Streams.profileMonitor(input.toDF())
      .writeStream.format("memory").queryName("prof_mon")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("prof_mon").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.toSeq.drop(1))
      .toMap
    // batch twin over the identical rows (same agg, no watermark/window
    // machinery beyond the group key)
    val batch = Streams.profileMonitor((b1 ++ b2).toDF())
    // a streaming plan collected in batch mode: strip the watermark by
    // re-running the same transformations on a static frame
    val batchRows = batch.collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.toSeq.drop(1))
      .toMap
    assert(streamed.keySet == batchRows.keySet)
    streamed.foreach { case (k, v) =>
      assert(v == batchRows(k), s"streamed profile diverged at $k: " +
        s"$v vs ${batchRows(k)}")
    }
    // the tripwire reads: 11 rows in the window, exactly one null
    // event_type, ids 0..9 + 99 span min/max
    val et = streamed.keys.find(_._2 == "event_type").get
    val etRow = streamed(et) // (col_name, n_rows, n_nulls, est, mn, mx)
    assert(etRow(1) == 11L && etRow(2) == 1L, s"event_type row: $etRow")
    val eid = streamed(streamed.keys.find(_._2 == "event_id").get)
    assert(eid(4) == 0L && eid(5) == 99L, s"event_id min/max: $eid")
  }

  test("F17: streaming HLL cardinality monitor merges across micro-batches, matches batch") {
    // users 10..19 in window 0, split across two micro-batches with an
    // overlapping user — the aggregate's merge path must fold the second
    // batch into the first's register buffer, not double-count
    val b1 = (10L to 15L).map(u => StreamEvent(u, ts(1 + (u % 5).toInt), u, "click", 1.0))
    val b2 = (15L to 19L).map(u => StreamEvent(100 + u, ts(6), u, "click", 1.0)) :+
      StreamEvent(200, ts(12), 10, "view", 1.0) // second window+type group
    val input = MemoryStream[StreamEvent](spark)
    input.addData(b1: _*)
    val q = Streams.cardinalityMonitor(input.toDF())
      .writeStream.format("memory").queryName("card_mon")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("card_mon").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getDouble(2))
      .toMap
    // batch reference over the SAME rows: bit-identical registers → bit-identical estimate
    val batch = (b1 ++ b2).toDF()
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "10 minutes"),
        col("event_type"))
      .agg(org.apache.spark.sql.functions.call_function("graft_hll_est",
        graft.functions.Hashing.h60(col("user_id").cast("string"))).as("est"))
      .collect()
      .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getString(1)) ->
        r.getDouble(2))
      .toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(streamed.keySet ==
      Set(("2024-01-01 00:00:00.0", "click"), ("2024-01-01 00:10:00.0", "view")))
  }

  test("F9: stream-static broadcast enrichment resolves known members, defaults unknowns") {
    val input = MemoryStream[StreamEvent](spark)
    input.addData(
      StreamEvent(1, ts(10), 7, "click", 1.0),
      StreamEvent(2, ts(11), 8, "click", 1.0),
      StreamEvent(3, ts(12), 99, "click", 1.0)) // not in the dim
    val dim = Seq((7L, "alice"), (8L, "bo")).toDF("member_id", "member_name")
    val rows = runToCompletion(
      Streams.enrichWithDim(input.toDF(), dim), OutputMode.Append)
      .map(r => (r.getLong(0), r.getString(4))).sorted
    assert(rows == Seq((1L, "alice"), (2L, "bo"), (3L, "unknown")))
  }

  test("F20: admission job composes gate+screen+ingest+drift across micro-batches") {
    // accepted corpus: 10 quality-passing docs with varied vocab (seed0's
    // shingle set is what the near-dup batch must collide with)
    def goodText(stem: String): String =
      "the of the of the of " + (1 to 44).map(j => s"$stem$j").mkString(" ")
    val seedDocs = (0L until 10L).map(i => (i, goodText(s"seed${i}w")))
    val root = java.nio.file.Files.createTempDirectory("graft_adm").toString
    val corpusDir = s"$root/corpus"
    seedDocs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$corpusDir/documents.parquet")
    val indexDir = s"$root/index"
    graft.operators.VectorStore.ingest(
      seedDocs.toDF("doc_id", "text"), indexDir)
    def codebook() = spark.read.parquet(s"$indexDir/_graft_pq/codebook.parquet")
      .collect().map(_.toString).sorted.toSeq
    val cbBefore = codebook()
    val bandDir = s"$root/bands"
    graft.operators.Dedup.bandIndex(spark, corpusDir).write.parquet(bandDir)
    val baseline = Streams.qualityBaseline(seedDocs.toDF("doc_id", "text"))

    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = Streams.admissionJob(input.toDF().toDF("doc_id", "ts", "text"),
      bandDir, indexDir, s"$root/quarantine", s"$root/telemetry",
      s"$root/ckpt", baseline)
    try {
      // batch 1 (healthy): 12 novel quality-passing docs — all admitted,
      // bucket distribution matches the baseline → no drift
      input.addData((0 until 12).map(i =>
        (100L + i, ts(i % 9), goodText(s"nova${i}x"))): _*)
      q.processAllAvailable()
      // batch 2 (drifted): 10 quality-failing docs in a later window
      input.addData((0 until 10).map(i =>
        (200L + i, ts(60 + i % 9), "the of short")): _*)
      q.processAllAvailable()
      // batch 3: a near-dup of seed0 (quality-passing — only the screen
      // can reject it) + one more novel good doc
      val nearDup = goodText("seed0w").replace("seed0w44", "changed")
      input.addData((300L, ts(120), nearDup), (301L, ts(120), goodText("late")))
      q.processAllAvailable()
      // batch 4 (F21): a copy of batch 3's ADMITTED doc — only the
      // self-maintained band index can reject it; the frozen corpus
      // never saw doc 301
      input.addData((400L, ts(130), goodText("late")))
      q.processAllAvailable()
    } finally q.stop()

    val quarantine = spark.read.parquet(s"$root/quarantine")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(quarantine.size == 12, s"quarantine: $quarantine")
    // batch 2's junk docs share one text: the first arrival reports the
    // quality verdict, the rest hit the r8 intra-batch family screen
    // first (reason precedence: seen_id > near_dup > quality)
    assert(quarantine(200L) == "quality", s"quarantine: $quarantine")
    (201L until 210L).foreach(id => assert(quarantine(id) == "near_dup",
      s"doc $id: ${quarantine(id)}"))
    assert(quarantine(300L) == "near_dup",
      s"near-dup not screened: $quarantine")
    assert(quarantine(400L) == "near_dup",
      s"cross-batch dup not screened by the self-maintained index: $quarantine")
    // the store holds the seeds + every admitted doc, none of the rejects
    val stored = spark.read.parquet(indexDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val admittedIds = (100L until 112L).toSet + 301L
    assert(stored == (0L until 10L).toSet ++ admittedIds,
      s"store contents diverged: $stored")
    // the append path reused the frozen codebook — store stayed consistent
    assert(codebook() == cbBefore, "admission appends rewrote the codebook")
    // drift telemetry: the healthy window is quiet, the drifted one pages
    val drift = spark.read.parquet(s"$root/telemetry/drift")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1),
        r.getDouble(2), r.getBoolean(3)))
    val byWindow = drift.map(d => d._1.toString -> d._4).toMap
    assert(byWindow("2024-01-01 00:00:00.0") == false,
      s"healthy window flagged: ${drift.toSeq}")
    assert(byWindow("2024-01-01 01:00:00.0") == true,
      s"drifted window missed: ${drift.toSeq}")
    // cell telemetry totals = admitted docs per batch (12, then 1 — the
    // near-dup half of batch 3 went to quarantine)
    val cellTotals = spark.read.parquet(s"$root/telemetry/cells")
      .groupBy("batch_id").sum("n_docs")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(cellTotals == Seq(1L, 12L), s"cell telemetry: $cellTotals")
  }

  test("F23: a re-delivered admitted id quarantines as seen_id, store keeps one copy") {
    def goodText(stem: String): String =
      "the of the of the of " + (1 to 44).map(j => s"$stem$j").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft_seen").toString
    val seedDocs = (0L until 5L).map(i => (i, goodText(s"base${i}q")))
    val corpusDir = s"$root/corpus"
    seedDocs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$corpusDir/documents.parquet")
    val indexDir = s"$root/index"
    graft.operators.VectorStore.ingest(seedDocs.toDF("doc_id", "text"), indexDir)
    val bandDir = s"$root/bands"
    graft.operators.Dedup.bandIndex(spark, corpusDir).write.parquet(bandDir)
    val baseline = Streams.qualityBaseline(seedDocs.toDF("doc_id", "text"))

    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = Streams.admissionJob(input.toDF().toDF("doc_id", "ts", "text"),
      bandDir, indexDir, s"$root/quarantine", s"$root/telemetry",
      s"$root/ckpt", baseline)
    try {
      input.addData((500L, ts(0), goodText("freshAx")))
      q.processAllAvailable()
      // same doc_id, DIFFERENT content: the content screens (quality,
      // near-dup) pass it — only the seen-ID bloom sidecar can reject a
      // redelivery that drifted
      input.addData((500L, ts(10), goodText("mutatedBz")))
      q.processAllAvailable()
      // INTRA-batch redelivery: both copies of a NEW id arrive in one
      // micro-batch, so neither is in the batch-start sketch — the
      // per-id copy ranking must admit exactly the first (earlier ts)
      input.addData((600L, ts(20), goodText("earlyCq")),
        (600L, ts(21), goodText("lateDr")))
      q.processAllAvailable()
    } finally q.stop()

    val quarantine = spark.read.parquet(s"$root/quarantine")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(quarantine.toSeq.sorted == Seq((500L, "seen_id"), (600L, "seen_id")),
      s"quarantine: ${quarantine.toSeq}")
    // the store holds only the FIRST delivery's chunks for both ids
    val stored = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 500L || col("doc_id") === 600L)
      .select("chunk").collect().map(_.getString(0))
    assert(stored.nonEmpty)
    assert(!stored.exists(_.contains("mutatedBz")),
      "second cross-batch delivery reached the store")
    assert(stored.exists(_.contains("earlyCq")) &&
      !stored.exists(_.contains("lateDr")),
      "intra-batch duplicate handling admitted the wrong copy")
  }

  test("F20 under a hot-key batch: dup ids and a giant near-dup family stay bounded") {
    // the adversarial micro-batch the skew rehearsal models: 50% of the
    // batch re-delivers 5 doc_ids, and one near-dup family dominates the
    // novel half — admission must keep exactly one copy per id, one
    // member per family, and the screen state must stay fixed-size
    def goodText(stem: String): String =
      "the of the of the of " + (1 to 44).map(j => s"$stem$j").mkString(" ")
    val seedDocs = (0L until 5L).map(i => (i, goodText(s"seed${i}w")))
    val root = java.nio.file.Files.createTempDirectory("graft_hot").toString
    val corpusDir = s"$root/corpus"
    seedDocs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$corpusDir/documents.parquet")
    val indexDir = s"$root/index"
    graft.operators.VectorStore.ingest(seedDocs.toDF("doc_id", "text"), indexDir)
    val bandDir = s"$root/bands"
    graft.operators.Dedup.bandIndex(spark, corpusDir).write.parquet(bandDir)
    val baseline = Streams.qualityBaseline(seedDocs.toDF("doc_id", "text"))

    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = Streams.admissionJob(input.toDF().toDF("doc_id", "ts", "text"),
      bandDir, indexDir, s"$root/quarantine", s"$root/telemetry",
      s"$root/ckpt", baseline)
    try {
      // 20 duplicate rows over 5 hot ids (4 copies each, distinct
      // content so only the id screen can catch them) + a 15-member
      // near-dup family (template with one token swapped per member)
      // + 5 clean novel docs — one 40-row batch
      val family = goodText("famAq")
      val hotRows = for (id <- 100L until 105L; c <- 0 until 4)
        yield (id, ts((id - 100).toInt * 4 + c), goodText(s"hot${id}c$c"))
      val famRows = (0 until 15).map(i =>
        (200L + i, ts(40 + i), family.replace("famAq7", s"famMut$i")))
      val cleanRows = (0 until 5).map(i =>
        (300L + i, ts(60 + i), goodText(s"solo${i}z")))
      input.addData(hotRows ++ famRows ++ cleanRows: _*)
      q.processAllAvailable()
    } finally q.stop()

    val quarantine = spark.read.parquet(s"$root/quarantine")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val byReason = quarantine.groupBy(_._2).view.mapValues(_.length).toMap
    // 3 extra copies per hot id quarantine as seen_id (the first copy
    // per id is ranked in); 14 of 15 family members as near_dup
    assert(byReason.getOrElse("seen_id", 0) == 15, s"quarantine: $byReason")
    assert(byReason.getOrElse("near_dup", 0) == 14, s"quarantine: $byReason")
    val stored = spark.read.parquet(indexDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val expected = (0L until 5L).toSet ++ (100L until 105L).toSet ++
      (300L until 305L).toSet
    assert(stored.intersect((200L until 215L).toSet).size == 1,
      s"family kept more than one member: $stored")
    assert(stored -- (200L until 215L).toSet == expected,
      s"store contents diverged: $stored")
    // state bounds under the hot batch: the seen sketch is one fixed
    // blob, and the band index grew by exactly the admitted docs' rows
    val sketch = Streams.loadSeenSketch(spark, indexDir)
    assert(sketch.length == Streams.SeenBits / 8)
    val bandDocs = spark.read.parquet(bandDir)
      .select("idx_id").distinct().count()
    assert(bandDocs == 5 + 11, // 5 seeds + 11 admitted
      s"band index holds $bandDocs docs")
  }

  test("seen-ID sketch: size mismatch fails loud, never zip-truncates") {
    // a sidecar written under a different SeenBits would change the
    // implied m of every later bit position; zip would silently truncate
    val root = java.nio.file.Files.createTempDirectory("graft_seensz").toString
    val ids = Seq(1L, 2L).toDF("doc_id")
    val wrongSize = new Array[Byte](Streams.SeenBits / 8 + 16)
    val ex = intercept[IllegalArgumentException] {
      Streams.recordSeen(spark, root, ids, wrongSize)
    }
    assert(ex.getMessage.contains("size mismatch"), ex.getMessage)
    // matched sizes still merge and round-trip
    val prev = Streams.loadSeenSketch(spark, root)
    val merged = Streams.recordSeen(spark, root, ids, prev)
    assert(merged.length == Streams.SeenBits / 8 && merged.exists(_ != 0))
    assert(Streams.loadSeenSketch(spark, root).toSeq == merged.toSeq)
  }

  test("seen-ID sketch: uncommitted dir degrades to empty; corrupt file throws") {
    val root = java.nio.file.Files.createTempDirectory("graft_seenio").toString
    val dir = new java.io.File(s"$root/_graft_seen")
    // dir exists but holds no committed data file (interrupted overwrite):
    // the documented degrade-to-empty case
    dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.getPath, "_SUCCESS"), Array.empty[Byte])
    assert(Streams.loadSeenSketch(spark, root).forall(_ == 0))
    // a PRESENT but corrupt parquet file is a genuine IO error — it must
    // propagate, not silently disable cross-batch dedup
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.getPath, "part-0000.snappy.parquet"),
      "not a parquet file".getBytes)
    intercept[Exception] { Streams.loadSeenSketch(spark, root) }
  }

  test("F31: KS monitor passes an in-distribution window, flags a shifted one") {
    // reference: one value per decade bucket 10..100 (uniform, nRef=10)
    val ref = (1 to 10).map(i => (i * 10L, 1L))
    // window 0: the same uniform draw -> every cum matches, ks exactly 0
    val wSame = (1 to 10).map(i =>
      StreamEvent(i.toLong, ts(2), 1L, "click", i * 10.0 - 5.0))
    // window 1: every value beyond the reference's last edge -> at edge
    // 100 cumObs=0 vs cumRef=nRef, ks exactly 1 (the escaped-mass rule)
    val wShift = (1 to 10).map(i =>
      StreamEvent(100L + i, ts(12), 1L, "click", 105.0))
    // window 2: half in place, half shifted by +50 -> sup displacement
    // at edge 50: |5*10 - 5*10|... hand-computed below as 0.3 at edge 30
    // (obs cum 3/10 of mass <= 30 is 2/10? keep it simple: 5 values at
    // 5..45 (cum at 50 = 5), 5 values at 105 -> at edge 50: |5*10-5*10|=0;
    // at edge 100: |5*10-10*10|=50 -> ks 0.5)
    val wHalf = (1 to 5).map(i =>
      StreamEvent(200L + i, ts(22), 1L, "click", i * 10.0 - 5.0)) ++
      (6 to 10).map(i => StreamEvent(200L + i, ts(22), 1L, "click", 105.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(wSame ++ wShift ++ wHalf: _*)
    val rows = runToCompletion(
      Streams.ksMonitor(input.toDF(), ref), OutputMode.Complete)
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (nS, ksS, dS) = rows("2024-01-01 00:00:00.0")
    val (nX, ksX, dX) = rows("2024-01-01 00:10:00.0")
    val (nH, ksH, dH) = rows("2024-01-01 00:20:00.0")
    assert(nS == 10L && ksS == 0.0 && !dS, s"stable window: ks=$ksS")
    assert(nX == 10L && ksX == 1.0 && dX, s"shifted window: ks=$ksX")
    assert(nH == 10L && ksH == 0.5 && dH, s"half-shifted window: ks=$ksH")
  }

  test("F31: bucket counts merge across micro-batches (ks stays exact)") {
    // one window's rows split across two micro-batches: the merged
    // cumulative counts must equal the single-batch computation — ks
    // exactly 0 for an in-distribution draw regardless of the split
    val ref = (1 to 10).map(i => (i * 10L, 1L))
    val b1 = (1 to 4).map(i =>
      StreamEvent(i.toLong, ts(3), 1L, "click", i * 10.0 - 5.0))
    val b2 = (5 to 10).map(i =>
      StreamEvent(i.toLong, ts(4), 1L, "click", i * 10.0 - 5.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(b1: _*)
    val q = Streams.ksMonitor(input.toDF(), ref)
      .writeStream.format("memory").queryName("ks_mon")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ks_mon").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(1) == 10L)
    assert(rows.head.getDouble(2) == 0.0,
      s"split window drifted: ks=${rows.head.getDouble(2)}")
    // and the baseline generator round-trips the same grid
    val base = Streams.ksBaseline((b1 ++ b2).toDF()).sortBy(_._1)
    assert(base == ref.map { case (e, c) => (e, c) },
      s"baseline grid mismatch: $base")
  }

  test("F32: chi-square monitor calibration — 0 in-distribution, " +
    "nObs+nRef on complete separation, hand value on a skewed window") {
    // reference: user buckets 0..3, one each (nRef = 4)
    val ref = (0L to 3L).map(c => (c, 1L))
    // window 0: users 16..19 -> cats 0..3, identical composition -> 0
    val wSame = (0 to 3).map(i =>
      StreamEvent(i.toLong, ts(2), 16L + i, "click", 1.0))
    // window 1: users 4..7 -> cats the reference never saw -> the
    // complete-separation value nObs + nRef = 8, flagged at threshold 5
    val wDisj = (0 to 3).map(i =>
      StreamEvent(10L + i, ts(12), 4L + i, "click", 1.0))
    // window 2: all four on cat 0 -> hand-computed per-cell sum
    val wSkew = (0 to 3).map(i =>
      StreamEvent(20L + i, ts(22), 16L, "click", 1.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(wSame ++ wDisj ++ wSkew: _*)
    val rows = runToCompletion(
      Streams.chisqMonitor(input.toDF(), ref, threshold = 5.0),
      OutputMode.Complete)
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (nS, xS, dS) = rows("2024-01-01 00:00:00.0")
    val (nX, xX, dX) = rows("2024-01-01 00:10:00.0")
    val (nK, xK, dK) = rows("2024-01-01 00:20:00.0")
    assert(nS == 4L && xS == 0.0 && !dS, s"stable window: chi2=$xS")
    assert(nX == 4L && xX == 8.0 && dX, s"disjoint window: chi2=$xX")
    // same division order as the operator: (d*d)/(nObs*nRef)/(a+b)
    // cat 0: d = 4*4-1*4 = 12, cell total a+b = 5; cats 1..3: d = -4,
    // cell total 0+1 = 1
    val expSkew = (12.0 * 12.0) / 16.0 / 5.0 +
      3.0 * ((4.0 * 4.0) / 16.0 / 1.0)
    assert(nK == 4L && xK == expSkew && !dK,
      s"skewed window: chi2=$xK expected $expSkew")
    // baseline generator round-trips the composition
    val base = Streams.chisqBaseline(wSame.toDF()).sortBy(_._1)
    assert(base == ref, s"baseline composition mismatch: $base")
  }

  test("F35: AUC monitor — 0.5 on the reference's own composition, exact extremes") {
    // reference: one value per decade bucket 10..40 (nRef=4)
    val ref = (1 to 4).map(i => (i * 10L, 1L))
    // window 0: the reference composition at DOUBLE the size — the
    // scaled-shape identity 2U = s·nRef² must read auc exactly 0.5
    val wSame = (1 to 8).map(i =>
      StreamEvent(i.toLong, ts(2), 1L, "click", ((i - 1) % 4 + 1) * 10.0 - 5.0))
    // window 1: entirely above the top edge -> auc exactly 1.0
    val wHigh = (1 to 3).map(i =>
      StreamEvent(100L + i, ts(12), 1L, "click", 95.0 + i * 10.0))
    // window 2: entirely below the bottom edge -> auc exactly 0.0
    val wLow = Seq(StreamEvent(200L, ts(22), 1L, "click", -25.0))
    // window 3: hand-computed mix — edges 10/30/100: w = 1 + 5 + 8 = 14,
    // auc = 14 / (2·3·4) = 0.5833333333333334 (< threshold 0.1 shift? no:
    // |0.5833-0.5| = 0.0833 -> not shifted)
    val wMix = Seq(
      StreamEvent(300L, ts(32), 1L, "click", 5.0),
      StreamEvent(301L, ts(32), 1L, "click", 25.0),
      StreamEvent(302L, ts(32), 1L, "click", 95.0))
    val input = MemoryStream[StreamEvent](spark)
    input.addData(wSame ++ wHigh ++ wLow ++ wMix: _*)
    val rows = runToCompletion(
      Streams.aucMonitor(input.toDF(), ref), OutputMode.Complete)
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (nS, aS, sS) = rows("2024-01-01 00:00:00.0")
    val (nH, aH, sH) = rows("2024-01-01 00:10:00.0")
    val (nL, aL, sL) = rows("2024-01-01 00:20:00.0")
    val (nM, aM, sM) = rows("2024-01-01 00:30:00.0")
    assert(nS == 8L && aS == 0.5 && !sS, s"same-composition window: auc=$aS")
    assert(nH == 3L && aH == 1.0 && sH, s"all-above window: auc=$aH")
    assert(nL == 1L && aL == 0.0 && sL, s"all-below window: auc=$aL")
    assert(nM == 3L && aM == 14.0 / 24.0 && !sM, s"mixed window: auc=$aM")
  }

  test("F35: doubled-unit counts merge across micro-batches (auc stays exact)") {
    val ref = (1 to 4).map(i => (i * 10L, 1L))
    val b1 = (1 to 4).map(i =>
      StreamEvent(i.toLong, ts(3), 1L, "click", i * 10.0 - 5.0))
    val b2 = (1 to 4).map(i =>
      StreamEvent(10L + i, ts(4), 1L, "click", i * 10.0 - 5.0))
    val input = MemoryStream[StreamEvent](spark)
    val q = Streams.aucMonitor(input.toDF(), ref)
      .writeStream.format("memory").queryName("f35merge")
      .outputMode(OutputMode.Complete).start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val r = spark.table("f35merge").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(r == Seq((8L, 0.5)), s"merged window drifted: $r")
  }

  // driver-side replica of the export's shuffle key for truth checks
  private def shufKey(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"shuf42:$id".getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("F33: streaming shard export — dense deterministic addresses across batches") {
    val base = java.nio.file.Files.createTempDirectory("graft_shard").toString
    val (out, chk) = (s"$base/out", s"$base/chk")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.shardExportJob(
      input.toDF().toDF("doc_id", "text"), out, chk, shardSize = 4L)
    input.addData((1L to 10L).map(i => (i, s"doc number $i")): _*)
    q.processAllAvailable()
    input.addData((11L to 17L).map(i => (i, s"doc number $i")): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/data")
      .select("shard", "pos", "doc_id").collect()
      .map(r => (r.getLong(0) * 4 + r.getLong(1), r.getLong(2)))
    assert(rows.length == 17)
    assert(rows.map(_._1).sorted.toSeq == (0L until 17L),
      s"addresses not dense: ${rows.sortBy(_._1).mkString(",")}")
    // in-batch order is the D32 shuffle rank: (md5('shuf42:'+id), id)
    val got1 = rows.filter(_._2 <= 10).sortBy(_._1).map(_._2).toSeq
    assert(got1 == (1L to 10L).sortBy(i => (shufKey(i), i)),
      s"batch-1 order drifted: $got1")
    val got2 = rows.filter(_._2 > 10).sortBy(_._1).map(_._2).toSeq
    assert(got2 == (11L to 17L).sortBy(i => (shufKey(i), i)),
      s"batch-2 order drifted: $got2")
    // batch 2 continues exactly where batch 1 stopped — shard 2 spans
    // the boundary (addresses 8-9 from batch 1, 10-11 from batch 2)
    assert(rows.filter(_._2 > 10).map(_._1).min == 10L)
  }

  test("F33: a replayed batchId reuses its base — byte-identical addresses") {
    val out = java.nio.file.Files.createTempDirectory("graft_shard_rp").toString
    val d1 = Seq((1L, "aa"), (2L, "bbb"), (3L, "c")).toDF("doc_id", "text")
    assert(Streams.exportShardBatch(d1, 0L, out, 4L) == 3L)
    def snap() = spark.read.parquet(s"$out/data")
      .select("shard", "pos", "doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val first = snap()
    // crash-replay: same batchId, same rows — output must not move
    assert(Streams.exportShardBatch(d1, 0L, out, 4L) == 3L)
    assert(snap() == first, "replay changed the export")
    // the next real batch continues at base 3 (no hole from the replay)
    val d2 = Seq((9L, "dddd")).toDF("doc_id", "text")
    assert(Streams.exportShardBatch(d2, 1L, out, 4L) == 1L)
    val all = snap()
    assert(all.map(t => t._1 * 4 + t._2).sorted == (0L to 3L),
      s"addresses not dense after replay+append: $all")
    assert(all.find(_._3 == 9L).get._4 == 4L)
    // time travel (a batchId older than the cursor) fails loud
    intercept[IllegalArgumentException] {
      Streams.exportShardBatch(d1, 0L, out, 4L)
    }
  }

  test("F33: a lost cursor sidecar recovers exactly from the data's addresses") {
    // the crash window of the cursor swap (old sidecar deleted, new one
    // not yet renamed in) leaves data but NO cursor. Recovery must
    // reconstruct (last_batch_id, last_base, next_base) from the
    // (shard, pos) addresses themselves: a replay of the last batch
    // stays byte-identical and the next batch continues densely —
    // never reassigning a used address.
    val out = java.nio.file.Files.createTempDirectory("graft_shard_cw").toString
    val d1 = Seq((1L, "aa"), (2L, "bbb"), (3L, "c")).toDF("doc_id", "text")
    val d2 = Seq((9L, "dddd"), (10L, "e")).toDF("doc_id", "text")
    assert(Streams.exportShardBatch(d1, 0L, out, 4L) == 3L)
    assert(Streams.exportShardBatch(d2, 1L, out, 4L) == 2L)
    def snap() = spark.read.parquet(s"$out/data")
      .select("shard", "pos", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val before = snap()

    // injected crash window: the sidecar is gone (stale tmp may remain)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$out/_graft_shard_cursor"), true))

    // replay of the LAST batch after the crash: recovered last_base
    // must equal batch 1's original base — addresses unchanged
    assert(Streams.exportShardBatch(d2, 1L, out, 4L) == 2L)
    assert(snap() == before, "post-crash replay moved addresses")

    // and a NEW batch continues at the recovered next_base, densely
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_graft_shard_cursor"), true)
    val d3 = Seq((20L, "ff")).toDF("doc_id", "text")
    assert(Streams.exportShardBatch(d3, 2L, out, 4L) == 1L)
    val all = snap()
    assert(all.map(t => t._1 * 4 + t._2).sorted == (0L to 5L),
      s"addresses not dense after crash recovery: $all")
    // time travel still fails loud off the recovered cursor
    intercept[IllegalArgumentException] {
      Streams.exportShardBatch(d1, 1L, out, 4L)
    }
  }

  test("F34: streaming edit lifecycle == batch edit(), graph sidecar bit-for-bit") {
    import graft.operators.VectorStore
    import graft.sources.Tables
    val base = java.nio.file.Files.createTempDirectory("graft_sedit").toString
    val v1 = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") < 40).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val editedText = "completely rewritten content for the edited parent " +
      "document carrying enough words to chunk into several windows " +
      (1 to 40).map(i => s"tok$i").mkString(" ")

    // BATCH reference: ingest v1, build the graph, edit doc 7
    val bDir = s"$base/batch"
    assert(VectorStore.ingest(v1.toDF("doc_id", "text"), bDir) > 0)
    assert(VectorStore.buildGraph(spark, bDir) > 0)
    VectorStore.edit(spark, bDir, Seq(7L),
      Seq((7L, editedText)).toDF("doc_id", "text"))

    // STREAMING twin: batch 0 = v1 versions, then the graph is built,
    // then batch 1 delivers the edit PLUS a stale older version of the
    // same doc — keep-latest must collapse them before the edit
    val sDir = s"$base/stream"
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = Streams.editLifecycleJob(
      input.toDF().toDF("doc_id", "ts", "text"), sDir, s"$base/chk")
    input.addData(v1.map { case (id, t) => (id, ts(1), t) }: _*)
    q.processAllAvailable()
    assert(VectorStore.buildGraph(spark, sDir) > 0)
    input.addData((7L, ts(10), editedText), (7L, ts(5), "stale version"))
    q.processAllAvailable()
    q.stop()

    // the stores must be row-identical (all columns: chunks, codes,
    // sq8/jl sidecars, batch tags) and the graph sidecars edge-identical
    def rows(d: String) = spark.read.parquet(d)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(sDir) == rows(bDir), "index rows diverged from batch edit")
    def edges(d: String) = spark.read
      .parquet(s"$d/_graft_graph/edges.parquet")
      .collect().map(_.toString).sorted.toSeq
    assert(edges(sDir) == edges(bDir), "graph sidecar diverged from batch edit")
    // and the served read agrees: the edited content is what comes back
    val hit = VectorStore.searchCells(spark, sDir,
      "completely rewritten content for the edited parent document", k = 1)
      .collect().head
    assert(hit.getAs[Long]("doc_id") == 7L)
    // r16 (the r13 verdict's #6): the streamed edit maintains the LEXICAL
    // plane too — the hybrid read serves the NEW content for doc 7 with a
    // lexical-leg rank (the edit routed through G42, which rewrites
    // _graft_lex via delete-kill-row + append generations)
    val hyb = graft.operators.VectorStoreLex.searchHybrid(spark, sDir,
      "completely rewritten content for the edited parent document", k = 3)
      .collect()
    val doc7 = hyb.find(_.getAs[Long]("doc_id") == 7L)
    assert(doc7.nonEmpty && doc7.get.getAs[Long]("rank") == 1L &&
      !doc7.get.isNullAt(doc7.get.fieldIndex("lex_rank")),
      s"streamed edit not served through the hybrid lexical leg: ${hyb.toSeq}")
    // the superseded stale text no longer serves doc 7 lexically: a
    // stale-term query must not surface doc 7 (its gen is dead)
    val stale = graft.operators.VectorStoreLex.searchLex(spark, sDir,
      "stale version", k = 5).collect()
    assert(!stale.exists(_.getAs[Long]("doc_id") == 7L),
      s"dead generation still serves from the lexical plane: ${stale.toSeq}")
  }

  test("F33: checkpointed restart continues the address space densely") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_shard_rs").toString
    val (land, out, chk) = (s"$base/land", s"$base/out", s"$base/chk")
    def runOnce(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(land)
      val q = Streams.shardExportJob(docs, out, chk, shardSize = 4L)
      q.processAllAvailable(); q.stop()
    }
    (1L to 6L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(land)
    runOnce()
    val firstSix = spark.read.parquet(s"$out/data")
      .select("shard", "pos", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    (7L to 9L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(land)
    runOnce() // restart from checkpoint picks up ONLY the new file
    val after = spark.read.parquet(s"$out/data")
      .select("shard", "pos", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the first six addresses are untouched by the restart
    assert(after.filter(_._3 <= 6L).sortBy(_._3).toSeq == firstSix,
      "restart moved committed addresses")
    assert(after.map(t => t._1 * 4 + t._2).sorted.toSeq == (0L until 9L),
      s"addresses not dense across restart: ${after.mkString(",")}")
  }
}
