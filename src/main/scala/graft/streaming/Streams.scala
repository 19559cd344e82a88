package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Event-stream schema (mirrors the batch events table). */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double)

/** Closed session emitted by stateful sessionization. */
case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
  n_events: Long)

private case class SessionState(start: Long, last: Long, n: Long)

/** Latest-state upsert record (the streaming #EDIT analog). */
case class LatestOut(user_id: Long, event_type: String, event_id: Long,
  epoch: Long)

/** CDC snapshot change record: `live = false` means the key's newest
  * change is a tombstone — an Update-mode consumer applies a DELETE. */
case class CdcOut(user_id: Long, event_id: Long, epoch: Long,
  event_type: String, live: Boolean)

/** Structured Streaming operators (SURVEY §2 F1–F3).
  *
  * The reference bot polls Slack incrementally with a persisted
  * `last_run_timestamp` (KnowledgeBot.py:133-165, 446-453); Structured
  * Streaming's checkpointed file/Kafka sources + watermarks are the
  * engine-native version of exactly that contract. State is bounded by
  * watermark/timeout in every operator — a requirement at 100 TB/day.
  */
object Streams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** F1 source half: checkpointed incremental ingest over a landing dir. */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /** F1: watermarked 10-minute tumbling-window aggregate. Late data beyond
    * 30 minutes is dropped and window state is reclaimed — bounded state. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** F2: stateful sessionization with a 30-minute inactivity gap,
    * flatMapGroupsWithState + event-time timeout. Emits a session when the
    * watermark passes last-event + gap. One state record per live user —
    * the streaming twin of Analytics.qSessionize. */
  def sessionize(events: Dataset[StreamEvent], gapSeconds: Long = 1800)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[StreamEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.last, s.n))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.last > gapSeconds =>
                  closed += SessionOut(userId, s.start, s.last, s.n)
                  cur = Some(SessionState(sec, sec, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, math.max(s.last, sec), s.n + 1))
                case None =>
                  cur = Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last * 1000 + gapSeconds * 1000)
            }
            closed.iterator
          }
        })
  }

  /** F6: streaming exactly-once-style dedup — duplicate event ids within
    * the watermark horizon are dropped (at-least-once sources → effective
    * exactly-once ingest); state for old ids is reclaimed as the
    * watermark advances, keeping it bounded. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicates("event_id", "ts")

  /** F3: streaming keep-latest upsert per (user, event_type) — the #EDIT
    * reprocess semantics as an Update-mode state map
    * (KnowledgeBot.py:351-379). State is bounded: a key idle for longer
    * than `retentionMs` past the watermark has its state reclaimed via
    * event-time timeout; the watermark guarantees no older event for that
    * key can still arrive, so eviction never changes results. */
  def keepLatest(events: Dataset[StreamEvent],
      retentionMs: Long = 3600 * 1000L): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (key: (Long, String), batch: Iterator[StreamEvent], state: GroupState[LatestOut]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val newest = (state.getOption.iterator ++ batch.map(e =>
              LatestOut(key._1, key._2, e.event_id, e.ts.getTime / 1000)))
              .maxBy(l => (l.epoch, l.event_id))
            state.update(newest)
            // timeout must be strictly beyond the current watermark
            val base = math.max(newest.epoch * 1000,
              state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(base + retentionMs)
            Iterator.single(newest)
          }
        })
  }

  /** F26: streaming CDC upsert/tombstone compaction — E56's
    * merge-on-read snapshot maintained incrementally. Per key the newest
    * change wins under the (epoch, event_id) total order; 'error' rows
    * are tombstones. Exactly as in the batch operator, tombstones flow
    * THROUGH the max — a tombstone must be able to WIN its key (dropping
    * deletes before the compare would resurrect the previous upsert, the
    * classic compaction bug; the spec drives a late out-of-order upsert
    * to pin it). The emitted row carries `live = false` when the newest
    * change is a delete, which an Update-mode sink applies as a DELETE.
    * State = one row per key, reclaimed by event-time timeout once the
    * watermark passes `retentionMs` of idleness (no older change can
    * then arrive, so eviction never alters the snapshot). */
  def cdcCompact(events: Dataset[StreamEvent],
      retentionMs: Long = 3600 * 1000L): Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, batch: Iterator[StreamEvent], state: GroupState[CdcOut]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val newest = (state.getOption.iterator ++ batch.map(e =>
              CdcOut(key, e.event_id, e.ts.getTime / 1000, e.event_type,
                e.event_type != "error")))
              .maxBy(c => (c.epoch, c.event_id))
            state.update(newest)
            val base = math.max(newest.epoch * 1000,
              state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(base + retentionMs)
            Iterator.single(newest)
          }
        })
  }

  /** F8: sessionization via Spark's NATIVE session_window — the built-in
    * operator for gap-based sessions (prefer built-ins when they express
    * the semantics; the flatMapGroupsWithState twin [[sessionize]] exists
    * for custom per-session state the built-in can't carry). Watermark
    * closes windows and reclaims their state. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** F7: stream-stream interval join — purchases enriched with same-user
    * clicks from the preceding `gapSeconds` (the streaming twin of the
    * batch bin-decomposed range join, Analytics.qRangeJoin). Spark plans
    * this as a watermarked symmetric hash join: both sides keep only the
    * range-reachable window of state, so state is bounded by
    * watermark + gap, never by stream length. */
  def clicksBeforePurchase(events: DataFrame, gapSeconds: Long = 1800)
      : DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $gapSeconds SECONDS") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("c_ts"), col("click_value"))
  }

  /** F13: stream-stream OUTER interval join — F7's enrichment, but
    * purchases with NO preceding click must still be emitted (the
    * telemetry-gap case an inner join silently drops). Spark supports
    * outer stream-stream joins only when the watermark + join condition
    * bound the unmatched side's wait: here both sides carry a 30-minute
    * watermark and the interval condition, so a purchase is held until
    * the click watermark passes its window and is then emitted
    * null-padded — late-bounded completeness, not best-effort. */
  def clicksBeforePurchaseOuter(events: DataFrame, gapSeconds: Long = 1800)
      : DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $gapSeconds SECONDS") &&
        col("c_ts") < col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("c_ts"), col("click_value"))
  }

  /** F10: streaming vector-index maintenance — the reference's realtime
    * loop (poll → chunk → embed → upsert index, KnowledgeBot.main +
    * VectorDatabase.ingest_documents) as a Structured Streaming sink:
    * each micro-batch of documents runs the SAME store write as
    * IngestJob, an `edit` over the batch's doc ids, so batch and streaming
    * share one code path and one index layout. `foreachBatch` is
    * at-least-once: a batch replayed after a crash replaces the chunks
    * its first delivery wrote instead of adding them twice. Returns the
    * started query; stop it or `processAllAvailable()` in the caller. */
  def indexMaintenance(docs: DataFrame, indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select("doc_id").distinct().collect().map(_.getLong(0))
        if (ids.nonEmpty)
          graft.operators.VectorStore.edit(batch.sparkSession, indexDir, ids, batch)
        ()
      }
      .start()

  /** F14: streaming near-dup screening — each arriving micro-batch of
    * documents checked against a static MinHash band index
    * ([[graft.operators.Dedup.bandIndex]]): the admission gate a
    * production corpus service runs on incoming data, and the streaming
    * twin of C8's batch screen. Same fused signature kernels as C3,
    * stream-static equi-join on (band_ix, bkey), then the C3e
    * signature-agreement estimate on colliding pairs — the verify reads
    * only the two 16-long signatures, no shingle sets. Flag est ≥ 0.5.
    * Joins are stateless per micro-batch (the index IS the state and is
    * re-read each batch, so an index rebuild is picked up live);
    * `dropDuplicates` emits a pair once across band multi-collisions
    * and replays. */
  def nearDupScreen(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    import graft.operators.Dedup.{Bands, NumHashes, RowsPerBand}
    val withSig = docs.select(col("doc_id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_hashes", col("text")),
          lit(NumHashes)).as("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
    val bandKeys = (0 until Bands).map { bnd =>
      concat_ws("_", (0 until RowsPerBand).map(r =>
        element_at(col("sig"), bnd * RowsPerBand + r + 1)): _*)
    }
    val bands = withSig.select(col("doc_id"), col("sig"),
        posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band_ix").withColumnRenamed("col", "bkey")
    val agree = (0 until NumHashes).map(i =>
      when(element_at(col("sig"), i + 1) === element_at(col("idx_sig"), i + 1),
        1).otherwise(0)).reduce(_ + _)
    bands.join(bandIndex, Seq("band_ix", "bkey"))
      .filter(col("doc_id") =!= col("idx_id"))
      .select(col("doc_id"), col("idx_id"),
        (agree.cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .dropDuplicates("doc_id", "idx_id")
  }

  /** F15: streaming quality admission gate — arriving documents scored
    * against the Gopher rules (D22) inside the stream: the other half of
    * a corpus service's admission pipeline next to [[nearDupScreen]].
    * The fused `graft_gopher_stats` kernel is a deterministic narrow
    * expression, so the gate is completely stateless — no watermark, no
    * state store, scales as a pure map over micro-batches. Emits every
    * doc with its keep verdict and the failed-rule count so downstream
    * sinks can route rejects to a quarantine table. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val rules = graft.operators.TextAnalysis
      .gopherRules(call_function("graft_gopher_stats", col("text")))
      .map(_._2)
    docs.select(col("doc_id"), col("text"),
      rules.reduce(_ && _).as("keep"),
      rules.map(r => when(r, 0).otherwise(1)).reduce(_ + _)
        .cast("long").as("n_failed_rules"))
  }

  /** F16: streaming cell router — assign each arriving document to the
    * frozen k-means cell (G22's centroid sidecar) its embedding lands
    * in: the partition-routing step of a streaming index ingest, and the
    * third stage of the admission pipeline after [[nearDupScreen]] and
    * [[qualityGate]]. The K-row centroid summary is collected once and
    * compiled into a LITERAL argmin expression — per row: K exact int64
    * dot kernels, K IEEE divisions, one lexicographic array_min — so the
    * router is a pure narrow map: no stream-static join, no window, no
    * state, legal in any output mode. Same score and tie rule as the
    * batch assignment (B12 / VectorStore.cellAssign). */
  def cellRouter(docs: DataFrame,
      centroids: Seq[(Int, Array[Long], Long)]): DataFrame = {
    val raw = call_function("graft_hash_embed", col("text"),
      lit(graft.operators.VectorStore.Dim))
    val scored = centroids.map { case (cell, csum, n) =>
      val c2 = csum.map(v => v * v).sum
      val score = (lit(c2) - lit(2L) * call_function("graft_dot_l",
        raw, typedlit(csum.toSeq)) * lit(n)).cast("double") /
        lit(n * n).cast("double")
      struct(score.as("s"), lit(cell).as("c"))
    }
    docs.select(col("doc_id"), col("text"),
      array_min(array(scored: _*)).getField("c").as("cell"))
  }

  /** Convenience: load the G22 centroid sidecar for [[cellRouter]]. */
  def loadCentroids(spark: SparkSession, indexDir: String)
      : Seq[(Int, Array[Long], Long)] =
    spark.read.parquet(s"$indexDir/_graft_cells/centroids.parquet")
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))

  /** F9: stream-static enrichment — each streamed event joined to a
    * static dimension (the channel/user roster the reference resolves
    * mentions against, KnowledgeBot.py:333-348). The static side is
    * broadcast: stateless, no watermark needed, the dimension is re-read
    * per micro-batch so slowly-changing dims pick up updates. The
    * streaming twin of the batch broadcast dim joins (A2/A5/E2). */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("member_id"), "left")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("member_name"), lit("unknown"))
          .as("member_name"))

  /** F17: streaming cardinality monitor — the G18 native HLL aggregate
    * (`graft_hll_est`, a TypedImperativeAggregate) inside a watermarked
    * windowed streaming aggregation: distinct users per (10-min window,
    * event_type), estimated. The state store holds ONE 64-byte register
    * buffer per open (window, type) group regardless of user
    * cardinality, and micro-batches fold in through the aggregate's
    * merge path — the same mergeability that makes the sketch safe for
    * 100 TB rollups (E31) makes it streaming-safe, where an exact
    * `count(distinct)` would either be unsupported or hold every user id
    * in state. Watermark closes windows and reclaims buffers. */
  def cardinalityMonitor(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(call_function("graft_hll_est",
          graft.functions.Hashing.h60(col("user_id").cast("string")))
        .as("distinct_users_est"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("distinct_users_est"))

  /** F29: streaming profile monitor — E61a's sketch-served column
    * profile as a live feed-health tripwire: per tumbling window, for
    * each column of the event stream — row count, null count, HLL
    * distinct estimate, and min/max for the integral columns — computed
    * in ONE watermarked windowed aggregation and exploded to one row per
    * (window, column), the q_profile_hll shape. State per open window is
    * one 64-byte register buffer per column plus a fixed handful of
    * longs, regardless of stream volume; micro-batches fold through the
    * sketch's merge path, so the streamed profile is bit-identical to a
    * batch profile of the same rows (spec-pinned). The schema-drift /
    * feed-corruption pager: a partner feed that starts sending nulls, a
    * constant column (distinct estimate collapses), or out-of-range ids
    * shows up within one window — before anything downstream joins on
    * the poisoned column. Hash canonicalization matches E61a (longs cast
    * directly, the double column through DECIMAL(18,6)). */
  def profileMonitor(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cols: Seq[(String, Boolean)] = Seq("event_id" -> true,
      "user_id" -> true, "event_type" -> false, "value" -> false)
    def canon(nm: String): Column =
      if (nm == "value") col(nm).cast(DecimalType(18, 6)).cast("string")
      else col(nm).cast("string")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap {
      case (nm, integral) =>
        Seq(count(col(nm)).as(s"nn_$nm"),
          call_function("graft_hll_est",
            graft.functions.Hashing.h60(canon(nm))).as(s"nd_$nm")) ++
          (if (integral)
            Seq(min(col(nm)).cast("long").as(s"mn_$nm"),
              max(col(nm)).cast("long").as(s"mx_$nm"))
          else Nil)
    }
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"),
        explode(array(cols.map { case (nm, integral) =>
          struct(lit(nm).as("col_name"), col("n_rows"),
            (col("n_rows") - col(s"nn_$nm")).as("n_nulls"),
            col(s"nd_$nm").as("n_distinct_est"),
            (if (integral) col(s"mn_$nm") else lit(null).cast("long"))
              .as("min_long"),
            (if (integral) col(s"mx_$nm") else lit(null).cast("long"))
              .as("max_long"))
        }: _*)).as("p"))
      .select(col("window_start"), col("p.*"))
  }

  /** F19: streaming quantile monitor — the G24 native histogram-quantile
    * aggregate (`graft_qhist`) inside a watermarked windowed streaming
    * aggregation: p50/p99 of the value distribution per (10-min window,
    * event_type). State per open group is the bounded (edge → count)
    * map — value-range/width entries regardless of event volume — and
    * micro-batches fold in through the aggregate's commutative add-merge,
    * the same mergeability that makes it safe for 100 TB rollups. The
    * ops twin of F17: F17 watches who (cardinality), F19 watches how
    * big/slow (quantiles). */
  def quantileMonitor(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(call_function("graft_qhist", col("value"), lit(10.0d),
        lit(0.5d), lit(0.99d)).as("q"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("q.p50_edge"), col("q.p99_edge"), col("q.n_events"))

  private val DriftBuckets = 8 // Gopher rules passed: 0–7

  /** F18: streaming corpus drift monitor — per tumbling window, the
    * population-stability index (PSI) of arriving documents'
    * quality-bucket distribution against a FROZEN baseline histogram
    * (the accepted corpus's distribution at freeze time). The quality
    * bucket is the Gopher rules-passed count (D26's graded signal) from
    * the fused `graft_gopher_stats` kernel — a narrow deterministic
    * per-row expression — so the whole monitor is ONE watermarked
    * windowed aggregation whose state is nine longs per open window
    * (8 bucket counts + a total) regardless of stream volume; the
    * K-bucket baseline folds in as plan literals. PSI over
    * Laplace-smoothed shares, drift flagged at the standard 0.2
    * threshold: the guardrail that pages BEFORE a quality regression in
    * an upstream crawler pollutes the admitted corpus. Completes the
    * admission pipeline: [[nearDupScreen]] (redundancy),
    * [[qualityGate]] (per-doc), drift (population). */
  def driftMonitor(docs: DataFrame, baseline: Seq[(Int, Long)],
      threshold: Double = 0.2): DataFrame = {
    val rules = graft.operators.TextAnalysis
      .gopherRules(call_function("graft_gopher_stats", col("text"))).map(_._2)
    val bucket = rules.map(r => when(r, 1).otherwise(0)).reduce(_ + _)
    val baseMap = baseline.toMap
    val baseTotal = baseline.map(_._2).sum.toDouble + DriftBuckets
    val baseShare = (0 until DriftBuckets)
      .map(b => b -> (baseMap.getOrElse(b, 0L) + 1.0) / baseTotal).toMap
    val bucketCounts = (0 until DriftBuckets).map(b =>
      sum(when(col("bucket") === b, 1L).otherwise(0L)).as(s"n_$b"))
    val agg = docs
      .select(col("ts"), bucket.as("bucket"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(bucketCounts.head,
        bucketCounts.tail :+ count(lit(1)).as("n_docs"): _*)
    val totalSm = col("n_docs").cast("double") + lit(DriftBuckets.toDouble)
    val psi = (0 until DriftBuckets).map { b =>
      val obs = (col(s"n_$b").cast("double") + lit(1.0)) / totalSm
      (obs - lit(baseShare(b))) * log(obs / lit(baseShare(b)))
    }.reduce(_ + _)
    agg.select(col("window.start").as("window_start"), col("n_docs"),
      psi.as("psi"), (psi > lit(threshold)).as("drifted"))
  }

  /** F28: streaming Benford monitor — E60's first-digit forensic audit
    * as a live tripwire on a money/measure stream: per tumbling window,
    * the leading-digit histogram of the exact cents against the Benford
    * expectation, flagged when any digit's |observed − expected| ppm
    * clears the threshold. The fraud/feed-corruption pager: a partner
    * feed that starts fabricating, truncating, or unit-mixing amounts
    * bends the first-digit law long before totals look wrong.
    *
    * Same legality shape as F18: ONE watermarked windowed aggregation
    * whose state is ten longs per open window (9 digit counts + a
    * total) regardless of stream volume; the expected-ppm constants are
    * the SAME Scala-computed literals E60 plants in both engines (no
    * runtime log10); deviations are stateless integer column math over
    * the aggregate. */
  def benfordMonitor(events: DataFrame,
      thresholdPpm: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val expPpm = (1 to 9).map(d =>
      math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong)
    val cents = (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val digitCounts = (1 to 9).map(d =>
      sum(when(col("digit") === d, 1L).otherwise(0L)).as(s"n_$d"))
    val agg = events
      // Benford is defined on positive magnitudes: a null amount carries
      // no digit, a zero amount's digit 0 has no n_* bucket (it would
      // inflate n_rows and deflate every observed ppm), and a negative's
      // leading character is the sign, which the ANSI string→int cast
      // rejects. Gate BEFORE deriving the digit, matching E60.
      .filter(cents > 0)
      .select(col("ts"), digit.as("digit"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(digitCounts.head,
        digitCounts.tail :+ count(lit(1)).as("n_rows"): _*)
    val maxDev = greatest((1 to 9).map(d =>
      abs(expr(s"n_$d * 1000000 div n_rows") - lit(expPpm(d - 1)))): _*)
    agg.select(col("window.start").as("window_start"), col("n_rows"),
      maxDev.as("max_dev_ppm"),
      (maxDev > lit(thresholdPpm)).as("flagged"))
  }

  /** F22: streaming funnel-overlap monitor — per tumbling window, KMV
    * sketches (G29 `graft_kmv`) of the distinct CLICKING and PURCHASING
    * user sets as two conditional aggregates in ONE watermarked windowed
    * aggregation (the aggregate skips nulls, so the per-type pivot is a
    * free `when`), then the E42 theta-intersection algebra as stateless
    * column math over the two sketches: distinct estimates, the overlap
    * estimate, and the conversion estimate — "what fraction of this
    * window's distinct clickers also purchased". That set INTERSECTION is
    * the funnel question F17's HLL monitor fundamentally cannot answer
    * (HLL has no intersection algebra), and an exact distinct-join would
    * hold every user id in state; here state per open window is ≤ 2k
    * longs, mergeable and commutative, so micro-batch folding is
    * bit-identical to batch. Unsaturated sketches give EXACT counts —
    * the monitor degrades gracefully from exact to ±1/√k estimates as
    * window volume grows. */
  def overlapMonitor(events: DataFrame, k: Int = Sketches.KmvK): DataFrame = {
    // estimator + theta algebra shared with the batch side
    // (Sketches.kmvEstimate/kmvUnion/kmvHits) — one implementation,
    // batch operators and this monitor can never drift
    val h = graft.functions.Hashing.h60(col("user_id").cast("string"))
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(
        call_function("graft_kmv",
          when(col("event_type") === "click", h), lit(k)).as("kc"),
        call_function("graft_kmv",
          when(col("event_type") === "purchase", h), lit(k)).as("kp"))
      .withColumn("u", Sketches.kmvUnion(col("kc"), col("kp"), k))
      .withColumn("mu", size(col("u")))
      .withColumn("c", Sketches.kmvHits(col("u"), col("kc"), col("kp")))
      .withColumn("est_both",
        when(col("mu") < k, col("c").cast("double"))
          .otherwise(col("c").cast("double") * lit(Sketches.KmvSpace.toDouble)
            / element_at(col("u"), col("mu")).cast("double")))
      .withColumn("est_clickers", Sketches.kmvEstimate(col("kc"), k))
      .select(col("window.start").as("window_start"),
        col("est_clickers"),
        Sketches.kmvEstimate(col("kp"), k).as("est_purchasers"),
        col("est_both"),
        when(col("est_clickers") > 0.0, col("est_both") / col("est_clickers"))
          .as("conversion_est"))
  }

  /** F20: the streaming admission capstone — the composed job a corpus
    * service actually runs, and the streaming twin of G19's batch
    * CorpusJob: every micro-batch of arriving documents flows through
    * the full admission pipeline built from the SAME operators the batch
    * side uses — [[qualityGate]] (F15, per-doc), [[nearDupScreen]] (F14,
    * redundancy vs the band index at `bandDir`), admitted docs
    * appended to the G22 store through the one shared
    * `VectorStore.ingest` path (chunk → embed → bucket → cell, frozen
    * sidecars reused), rejects to a quarantine sink WITH their reason,
    * [[driftMonitor]]'s PSI math over the batch's windows (watermark is
    * a no-op in batch execution, so the streaming aggregation body runs
    * unchanged) to a drift-telemetry sink, and [[cellRouter]] (F16)
    * summarizing where the admitted docs landed (cell-skew telemetry).
    *
    * F21 — the index is SELF-MAINTAINING: each batch's admitted docs
    * have their MinHash band rows appended to `bandDir` after the
    * screen resolves (the verdicts are eagerly materialized first, so a
    * batch never screens against itself), which means later batches
    * near-dup-screen against earlier ADMISSIONS, not just the frozen
    * corpus — without it, a burst of identical novel docs across
    * batches would all be admitted. Seed `bandDir` with the accepted
    * corpus's rows (`Dedup.bandIndex(...).write.parquet(bandDir)`).
    *
    * Scale shape: each stage is the operator's own documented shape
    * (narrow kernel maps, one stream-static band equi-join, the store's
    * append path); the batch is materialized ONCE and fanned to the
    * five consumers. Checkpointing makes the whole composition
    * effectively-once per micro-batch. Input schema: (doc_id, ts, text).
    * Returns the started query; stop or `processAllAvailable()` in the
    * caller. */
  private[graft] val SeenBits = 1 << 16 // 8 KiB sidecar — the screen's TOTAL state
  private[graft] val SeenK = 3
  private val SeenDir = "_graft_seen"

  /** F23: seen-ID sketch for exactly-once admission under at-least-once
    * delivery — a G30 Bloom sidecar of every doc_id ever admitted,
    * stored next to the index. Eight kilobytes of state regardless of
    * corpus size; the exact-set alternative (a distinct join against all
    * admitted ids) re-scans the whole admission history every batch.
    * One-sided error in the SAFE direction for dedup: a re-delivered
    * admitted id is ALWAYS caught (no false negatives); a novel doc is
    * falsely quarantined with probability (set_bits/m)^k — ~1e-9 at
    * test scale, and tunable by m. Re-folding the same ids is a no-op
    * (bytewise OR), so a foreachBatch replay after a crash between
    * ingest and sidecar rewrite converges instead of corrupting. */
  def loadSeenSketch(spark: SparkSession, indexDir: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$SeenDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      spark.catalog.refreshByPath(p.toString)
      // a crash can interrupt the non-atomic overwrite and leave the dir
      // present but without a committed data file — that case (and only
      // that case) must degrade to the empty sketch: the replay refolds
      // and converges. Genuine IO/permission/corruption errors must NOT
      // silently disable cross-batch dedup, so the missing-file check is
      // explicit and everything else propagates.
      val hasCommittedFile = fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")
      }
      if (hasCommittedFile)
        spark.read.parquet(p.toString).head().getAs[Array[Byte]](0)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft seen-ID sidecar at $p has no committed data file " +
            "(interrupted overwrite?); falling back to the empty sketch " +
            "— this batch will refold and converge")
        new Array[Byte](SeenBits / 8)
      }
    } else new Array[Byte](SeenBits / 8)
  }

  /** Fold a batch's admitted doc_ids into the sketch and rewrite the
    * sidecar. `prev` is already on the driver, so the overwrite never
    * races its own read. */
  def recordSeen(spark: SparkSession, indexDir: String,
      admittedIds: DataFrame, prev: Array[Byte]): Array[Byte] = {
    val add = admittedIds
      .agg(call_function("graft_bloom", col("doc_id").cast("string"),
        lit(SeenBits), lit(SeenK)))
      .head().getAs[Array[Byte]](0)
    // zip would silently truncate to the shorter array on a length
    // mismatch (e.g. a sidecar written under a different SeenBits),
    // changing the implied m and breaking every later bit position —
    // a silent loss of the exactly-once admission guarantee. Fail loud.
    require(prev.length == add.length,
      s"seen-ID sketch size mismatch: sidecar ${prev.length} B vs " +
        s"current ${add.length} B (SeenBits=$SeenBits) — the sidecar " +
        "was written under a different sketch size; delete or rebuild it")
    val merged: Array[Byte] = prev.zip(add).map { case (a, b) => (a | b).toByte }
    import spark.implicits._
    Seq(merged).toDF("sketch").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/$SeenDir")
    merged
  }

  def admissionJob(docs: DataFrame, bandDir: String, indexDir: String,
      quarantineDir: String, telemetryDir: String, checkpointDir: String,
      baseline: Seq[(Int, Long)], driftThreshold: Double = 0.2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // one materialization, five consumers (gate, screen, ingest,
          // quarantine, drift) — without it each re-runs the source scan
          // F23 intra-batch leg: two copies of one id can arrive in the
          // SAME micro-batch, both missing the batch-start sketch — and
          // duplicate ids would also multiply through every per-doc_id
          // screen join below. Rank copies per id FIRST (earliest ts
          // wins, deterministic tie on content hash): only the first
          // copy enters the pipeline, the rest quarantine as seen_id.
          val wCopy = Window.partitionBy("doc_id")
            .orderBy(col("ts"), md5(col("text")))
          val ranked = batch.withColumn("copy_rk", row_number().over(wCopy))
            .localCheckpoint(true)
          val b = ranked.filter(col("copy_rk") === 1).drop("copy_rk")
          // fresh listing each batch: the previous batch appended rows
          spark.catalog.refreshByPath(bandDir)
          val bandIndex = spark.read.parquet(bandDir)
          val gate = qualityGate(b.select("doc_id", "text"))
          val dupsVsIndex = nearDupScreen(b.select("doc_id", "text"), bandIndex)
            .select("doc_id")
          // F20 intra-batch leg: a whole near-dup family can arrive in
          // ONE micro-batch — none of it is in the band index yet, so the
          // cross-index screen alone would admit every member (the
          // hot-key rehearsal's skew shape). Self-screen the batch
          // against its own band rows and reject any doc that collides
          // with an EARLIER arrival ((ts, content-hash, id) order — the
          // same rule the per-id copy ranking uses), keeping exactly the
          // first member of each family. Batch-sized self-join, no state.
          val arrival = b.select(col("doc_id"),
            struct(col("ts"), md5(col("text")), col("doc_id")).as("arr"))
          val dupsIntra = nearDupScreen(b.select("doc_id", "text"),
              graft.operators.Dedup.bandRows(b.select("doc_id", "text")))
            .join(arrival, "doc_id")
            .join(arrival.select(col("doc_id").as("idx_id"),
              col("arr").as("idx_arr")), "idx_id")
            .filter(col("idx_arr") < col("arr"))
            .select("doc_id")
          val dups = dupsVsIndex.union(dupsIntra)
            .distinct().withColumn("near_dup", lit(true))
          // F23 cross-batch leg: re-delivered ids are screened against
          // the Bloom sidecar of everything ever admitted — checked
          // FIRST (an id replay is a delivery artifact, not a content
          // judgment)
          val seenSketch = loadSeenSketch(spark, indexDir)
          val verdicts = b.select("doc_id", "ts", "text")
            .join(gate.select("doc_id", "keep", "n_failed_rules"), "doc_id")
            .join(dups, Seq("doc_id"), "left")
            .select(col("doc_id"), col("ts"), col("text"), col("keep"),
              col("n_failed_rules"),
              coalesce(col("near_dup"), lit(false)).as("near_dup"),
              call_function("graft_bloom_contains", lit(seenSketch),
                col("doc_id").cast("string"), lit(SeenK)).as("seen_dup"))
            .localCheckpoint(true)
          val admitted = verdicts.filter(
            col("keep") && !col("near_dup") && !col("seen_dup"))
          val nAdmitted = graft.operators.VectorStore.ingest(
            admitted.select("doc_id", "text"), indexDir, mode = "append")
          // F21: admitted docs join the band index — the NEXT batch
          // screens against them (verdicts are already materialized, so
          // this append cannot affect the current batch's own screen)
          if (nAdmitted > 0) {
            graft.operators.Dedup.bandRows(admitted.select("doc_id", "text"))
              .write.mode("append").parquet(bandDir)
            recordSeen(spark, indexDir,
              admitted.select("doc_id").distinct(), seenSketch)
          }
          verdicts.filter(!col("keep") || col("near_dup") || col("seen_dup"))
            .select(col("doc_id"), col("ts"),
              when(col("seen_dup"), "seen_id")
                .when(col("near_dup"), "near_dup").otherwise("quality")
                .as("reason"),
              col("n_failed_rules"), lit(batchId).as("batch_id"))
            .unionByName(ranked.filter(col("copy_rk") > 1)
              .select(col("doc_id"), col("ts"), lit("seen_id").as("reason"),
                lit(null).cast("int").as("n_failed_rules"),
                lit(batchId).as("batch_id")))
            .write.mode("append").parquet(quarantineDir)
          driftMonitor(verdicts.select("ts", "text"), baseline, driftThreshold)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$telemetryDir/drift")
          if (nAdmitted > 0) {
            // sidecar exists once anything was ever ingested
            val cents = loadCentroids(batch.sparkSession, indexDir)
            cellRouter(admitted.select("doc_id", "text"), cents)
              .groupBy("cell").agg(count(lit(1)).as("n_docs"))
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$telemetryDir/cells")
          }
        }
        ()
      }
      .start()

  /** Convenience: the frozen baseline histogram for [[driftMonitor]] —
    * rules-passed bucket counts over an accepted reference corpus. */
  def qualityBaseline(docs: DataFrame): Seq[(Int, Long)] = {
    val rules = graft.operators.TextAnalysis
      .gopherRules(call_function("graft_gopher_stats", col("text"))).map(_._2)
    val bucket = rules.map(r => when(r, 1).otherwise(0)).reduce(_ + _)
    docs.select(bucket.as("bucket")).groupBy("bucket").count()
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1)))
  }

  private val KsBucketW = 10 // E35's width-10 value-bucket convention

  /** F31: streaming distribution-drift monitor — E62's two-sample KS
    * test made streamable. Per tumbling window, the BUCKETED KS
    * statistic between the arriving `value` distribution and a FROZEN
    * reference histogram ([[ksBaseline]], width-10 edges): the exact KS
    * needs a sort over distinct values — fundamentally not
    * bounded-state streamable — but over a fixed edge grid the
    * sup-distance is computable from mergeable bucket counts, and it IS
    * the exact KS statistic of the bucket-rounded distributions (error
    * vs the exact statistic ≤ the reference mass of any one bucket),
    * the standard production drift monitor. State per open window =
    * one long per reference edge; the reference's cumulative counts
    * fold in as plan literals (the F18 PSI discipline). The numerator
    * max_e |cumObs(e)·nRef − cumRef(e)·nObs| is exact int64; ONE final
    * IEEE division. A window whose values all exceed the reference's
    * last edge still reads correctly: at that edge cumObs < nObs, so
    * the escaped mass shows as 1 − cumObs/nObs.
    *
    * Shape-vs-range complement: E61/F29's profile flags range/null
    * breaks, F19's quantiles move only at the probed points; KS pages
    * on ANY cdf displacement, at unchanged min/max/median included. */
  def ksMonitor(events: DataFrame, reference: Seq[(Long, Long)],
      threshold: Double = 0.2): DataFrame = {
    require(reference.nonEmpty, "reference histogram is empty")
    val edges = reference.map(_._1).sorted
    val nRef = reference.map(_._2).sum
    require(nRef > 0, "reference histogram has zero mass")
    val refByEdge = reference.toMap
    val refCum: Seq[(Long, Long)] = edges
      .scanLeft((0L, 0L)) { case ((_, acc), e) => (e, acc + refByEdge(e)) }
      .tail
    val edgeOf = (floor(col("value") / KsBucketW).cast("long")
      * KsBucketW + KsBucketW)
    val cumCounts = edges.map(e =>
      sum(when(col("edge") <= e, 1L).otherwise(0L)).as(s"c_$e"))
    val agg = events
      .select(col("ts"), edgeOf.as("edge"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(cumCounts.head, cumCounts.tail :+ count(lit(1)).as("n_events"): _*)
    val ksNum = greatest(refCum.map { case (e, cref) =>
      abs(col(s"c_$e") * lit(nRef) - lit(cref) * col("n_events"))
    }: _*)
    val ks = ksNum.cast("double") /
      (col("n_events") * lit(nRef)).cast("double")
    agg.select(col("window.start").as("window_start"), col("n_events"),
      ks.as("ks"), (ks > lit(threshold)).as("drifted"))
  }

  /** Convenience: the frozen width-10 reference histogram for
    * [[ksMonitor]] — (bucket edge, count) over an accepted window of the
    * same stream (or any reference population). Keep the grid a MONITOR
    * grid: the per-window state and the literal fold-in are one long per
    * edge, so a raw full-range histogram of an unbounded measure should
    * be capped/coarsened before freezing. */
  def ksBaseline(events: DataFrame): Seq[(Long, Long)] = {
    val edgeOf = (floor(col("value") / KsBucketW).cast("long")
      * KsBucketW + KsBucketW)
    events.select(edgeOf.as("edge")).groupBy("edge").count()
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
  }

  private val ChisqCats = 16L // E64's user-bucket convention

  /** F32: streaming categorical-mix drift monitor — E64's two-sample
    * chi-square made streamable, completing the streaming drift family
    * (F18 PSI over quality buckets, F31 KS over a numeric cdf, this
    * over a CATEGORICAL axis KS cannot rank). Per tumbling window, the
    * homogeneity χ² between the window's user-bucket composition
    * (user_id % 16) and a FROZEN reference composition: the E64
    * identity reduces every cell to d_k²/(nObs·nRef·n_k) with
    * d_k = a_k·nRef − b_k·nObs, where the b_k are plan LITERALS (the
    * F18/F31 fold-in discipline) and the a_k are one conditional count
    * per reference category plus one escape bucket for categories the
    * reference never saw — bounded mergeable state, one long per
    * category per open window. Exact int64 numerators, one IEEE
    * division chain per category in fixed order.
    *
    * Calibration pins (spec): a window distributed exactly like the
    * reference reads χ² = 0; a window fully CONCENTRATED on categories
    * the reference never saw reads χ² = nObs + nRef exactly (the
    * complete-separation value of the 2×K table). */
  def chisqMonitor(events: DataFrame, reference: Seq[(Long, Long)],
      threshold: Double = 25.0): DataFrame = {
    require(reference.nonEmpty, "reference composition is empty")
    val nRef = reference.map(_._2).sum
    require(nRef > 0, "reference composition has zero mass")
    require(reference.forall(_._2 > 0),
      "zero-count reference categories must be dropped before freezing")
    val cats = reference.map(_._1)
    val catOf = pmod(col("user_id"), lit(ChisqCats))
    val catCounts = cats.map(c =>
      sum(when(col("cat") === c, 1L).otherwise(0L)).as(s"a_$c"))
    val agg = events
      .select(col("ts"), catOf.as("cat"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(catCounts.head, catCounts.tail :+ count(lit(1)).as("n_events"): _*)
    def term(a: Column, bk: Long): Column = {
      // d exact int64; SQUARED IN DOUBLE (the E64 r12 advice fix — d²
      // wraps int64 once nObs·nRef > ~3·10⁹, double·double of the
      // identically-rounded d is the same IEEE product everywhere)
      val d = (a * lit(nRef) - lit(bk) * col("n_events")).cast("double")
      d * d /
        (col("n_events") * lit(nRef)).cast("double") /
        (a + lit(bk)).cast("double")
    }
    val refTerms = reference.map { case (c, bk) => term(col(s"a_$c"), bk) }
    val aOther = col("n_events") - cats.map(c => col(s"a_$c")).reduce(_ + _)
    val otherTerm = when(aOther > 0L, term(aOther, 0L)).otherwise(lit(0.0d))
    val chi2 = refTerms.reduce(_ + _) + otherTerm
    agg.select(col("window.start").as("window_start"), col("n_events"),
      chi2.as("chi2"), (chi2 > lit(threshold)).as("drifted"))
  }

  /** F35: streaming location-drift monitor — E67's Mann–Whitney AUC
    * made streamable, completing the streaming drift family's LOCATION
    * member (F18 PSI and F31 KS page on any shape change but say
    * nothing about direction; F32 ranks a categorical mix; this reads
    * 0.5 = no shift, > 0.5 = the window runs HIGH vs the reference).
    * Per tumbling window, the BUCKETED AUC between arriving `value`s
    * and a FROZEN width-[[KsBucketW]] reference histogram (reuse
    * [[ksBaseline]]): over the fixed edge grid, a row's doubled tie-safe
    * Mann–Whitney credit is w(edge) = Σ_e (2·b_e·1[edge > e] +
    * b_e·1[edge = e]) — every b_e a PLAN LITERAL (the F18/F31/F32
    * fold-in discipline), so the per-window state is exactly TWO longs
    * (Σw and n) no matter how fine the grid: strictly less state than
    * F31's per-edge counts, because the reference weights fold into the
    * row expression. 2U = Σw is exact int64 (≤ 2·nObs·nRef, the E67
    * bound); auc = Σw / (2·nObs·nRef) is one IEEE division. This is
    * exactly the AUC of the bucket-rounded distributions — ties at
    * bucket width count half, the same rounding F31's KS accepts.
    *
    * Calibration pins (spec): a window drawn with the reference's own
    * composition (any size) reads auc = 0.5 EXACTLY (2U = s·nRef² ties
    * out algebraically); a window entirely above the reference's top
    * edge reads exactly 1.0, entirely below the bottom edge exactly
    * 0.0; a hand-computed mixed window matches to the last bit. */
  def aucMonitor(events: DataFrame, reference: Seq[(Long, Long)],
      threshold: Double = 0.1): DataFrame = {
    require(reference.nonEmpty, "reference histogram is empty")
    val nRef = reference.map(_._2).sum
    require(nRef > 0, "reference histogram has zero mass")
    val edgeOf = (floor(col("value") / KsBucketW).cast("long")
      * KsBucketW + KsBucketW)
    val w = reference.map { case (e, b) =>
      when(col("edge") > e, 2L * b).when(col("edge") === e, b)
        .otherwise(0L)
    }.reduce(_ + _)
    val agg = events
      .select(col("ts"), edgeOf.as("edge"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(sum(w).as("u2"), count(lit(1)).as("n_events"))
    val auc = col("u2").cast("double") /
      (lit(2L) * col("n_events") * lit(nRef)).cast("double")
    agg.select(col("window.start").as("window_start"), col("n_events"),
      auc.as("auc"),
      (abs(auc - lit(0.5)) > lit(threshold)).as("shifted"))
  }

  /** Convenience: the frozen reference composition for [[chisqMonitor]]
    * — (user bucket, count) over an accepted window of the same stream.
    * Zero-count buckets are absent by construction of groupBy. */
  def chisqBaseline(events: DataFrame): Seq[(Long, Long)] = {
    events.select(pmod(col("user_id"), lit(ChisqCats)).as("cat"))
      .groupBy("cat").count()
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
  }

  /** F34 core (one micro-batch): the #EDIT reprocess semantics applied
    * to a maintained vector store. Intra-batch keep-latest per doc_id
    * first (newest ts wins, deterministic md5 content tie — F3's total
    * order applied to document versions: two versions of one doc in ONE
    * micro-batch must collapse before the edit, or the store would
    * ingest both), then EVERY surviving doc routes through the G42 edit
    * lifecycle — delete + delete-splice + append + insert-splice with
    * all frozen sidecars reused — which degenerates to a plain append
    * for never-seen docs (delete finds no victims) and creates a missing
    * store, so new docs and edits need no separate code path, exactly
    * like IngestJob's batch. Replay-idempotent: re-running a batch
    * deletes the chunks it just added and re-appends identical content.
    * The collected id list is the bounded-sidecar discipline (edits per
    * micro-batch are human-generated, the IngestJob volume note). Returns
    * (removed, added) chunk counts. */
  def applyEditBatch(batch: DataFrame, indexDir: String,
      chunkSize: Int = 20, overlap: Int = 5): (Long, Long) = {
    val spark = batch.sparkSession
    val wCopy = Window.partitionBy("doc_id")
      .orderBy(col("ts").desc, md5(col("text")).desc)
    val latest = batch.withColumn("copy_rk", row_number().over(wCopy))
      .filter(col("copy_rk") === 1)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val ids = latest.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    if (ids.isEmpty) (0L, 0L)
    else {
      if (graft.operators.VectorStore.occupied(spark, indexDir))
        graft.operators.VectorStore.recover(spark, indexDir)
      graft.operators.VectorStore.edit(spark, indexDir, ids, latest,
        chunkSize, overlap)
    }
  }

  /** F34: streaming #EDIT lifecycle — the reference's per-run
    * `_handle_edit_flags` loop (KnowledgeBot.py:571-611) as a stream:
    * document versions arrive continuously and the maintained index
    * (chunks, PQ/SQ8/JL code sidecars, graph splices) always serves the
    * LATEST version of every doc. Composes F3's keep-latest order with
    * G42's maintained-index edit; the StreamingSpec pins the resulting
    * store bit-identical to the batch `edit()` path, graph sidecar
    * included. */
  def editLifecycleJob(docs: DataFrame, indexDir: String,
      checkpointDir: String, chunkSize: Int = 20, overlap: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) applyEditBatch(batch, indexDir, chunkSize, overlap)
        ()
      }
      .start()

  private val ShardCursorDir = "_graft_shard_cursor"

  /** The shard-export cursor sidecar: ONE row (last_batch_id, last_base,
    * next_base). `last_*` make a replay of the most recent batch reuse
    * its original base (foreachBatch re-delivers the last uncommitted
    * batchId with identical rows after a crash); `next_base` is where a
    * genuinely new batch starts. Missing sidecar + missing data = a
    * fresh export. Missing sidecar with EXISTING data (a crash in the
    * sidecar swap window, or a hand-deleted sidecar) is RECOVERED from
    * the data itself — the (shard, pos) addresses are the durable
    * record: last_batch_id = max batch_id partition, that batch's base =
    * its min address, next_base = max address + 1 — so the
    * never-reused/replay-idempotent address contract survives a crash
    * at ANY point of the cursor rewrite. */
  private def loadShardCursor(spark: SparkSession, outDir: String,
      shardSize: Long): (Long, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/$ShardCursorDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))) {
      spark.catalog.refreshByPath(p.toString)
      val r = spark.read.parquet(p.toString).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    } else {
      val data = new org.apache.hadoop.fs.Path(s"$outDir/data")
      if (fs.exists(data) && fs.listStatus(data).nonEmpty) {
        spark.catalog.refreshByPath(data.toString)
        val addrs = spark.read.parquet(data.toString)
          .select(col("batch_id").cast("long").as("bid"),
            (col("shard") * shardSize + col("pos")).as("addr"))
        val top = addrs.agg(max("bid"), max("addr")).head()
        val lastId = top.getLong(0)
        val lastBase = addrs.filter(col("bid") === lastId)
          .agg(min("addr")).head().getLong(0)
        (lastId, lastBase, top.getLong(1) + 1L)
      } else (-1L, 0L, 0L)
    }
  }

  /** F33 core (one micro-batch): assign every doc of `batch` a
    * deterministic global (shard, pos) address — D32's two-phase
    * bucketed shuffle-rank WITHIN the batch (md5-prefix range buckets,
    * per-bucket local ranks + broadcast cumulative offsets ≡ the global
    * in-batch rank exactly, no single-partition sort) offset by the
    * cursor's running base, so addresses continue densely across
    * micro-batches: shard = rk div shardSize, pos = rk mod shardSize,
    * and a shard can span a batch boundary (the address is the
    * contract, not the file). Replay-idempotent twice over: the batch's
    * output lands in its own `data/batch_id=` directory with overwrite
    * semantics, and a re-delivered batchId reuses its recorded base —
    * byte-identical addresses, no holes, no double-writes. Returns the
    * number of docs exported. */
  def exportShardBatch(batch: DataFrame, batchId: Long, outDir: String,
      shardSize: Long = 50L): Long = {
    val spark = batch.sparkSession
    val (lastId, lastBase, nextBase) = loadShardCursor(spark, outDir, shardSize)
    require(batchId >= lastId,
      s"shard export went back in time: batch $batchId after $lastId — " +
        "the checkpoint and the export dir belong to different jobs")
    val base = if (batchId == lastId) lastBase else nextBase
    val docs = batch
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        md5(concat(lit("shuf42:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bucket", substring(col("h"), 1, 2))
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("bucket").agg(count(lit(1)).as("b_n"))
      .withColumn("b_off", coalesce(sum("b_n").over(wB), lit(0L)))
      .localCheckpoint(true)
    val n = offsets.agg(sum("b_n")).head().getLong(0)
    val wIn = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
    docs.join(broadcast(offsets.select("bucket", "b_off")), "bucket")
      .withColumn("rk",
        lit(base) + col("b_off") + row_number().over(wIn).cast("long") - 1L)
      .select(
        ((col("rk") - pmod(col("rk"), lit(shardSize))) / shardSize)
          .cast("long").as("shard"),
        pmod(col("rk"), lit(shardSize)).as("pos"),
        col("doc_id"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/data/batch_id=$batchId")
    import spark.implicits._
    // Near-atomic cursor swap: a plain mode-overwrite deletes the old
    // sidecar before the new one exists, so a crash in that window
    // loses the cursor. Stage the new sidecar in a temp dir, then
    // delete+rename — the remaining (delete, rename) window leaves NO
    // sidecar, which loadShardCursor recovers exactly from the data's
    // own (shard, pos) addresses. Either way no address is ever reused.
    val cursorTmp = s"$outDir/${ShardCursorDir}_tmp"
    Seq((batchId, base, base + n))
      .toDF("last_batch_id", "last_base", "next_base").coalesce(1)
      .write.mode("overwrite").parquet(cursorTmp)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalP = new org.apache.hadoop.fs.Path(s"$outDir/$ShardCursorDir")
    fs.delete(finalP, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(cursorTmp), finalP),
      s"shard cursor rename failed: $cursorTmp -> $finalP")
    n
  }

  /** F33: streaming shard export — the training-export loop as a
    * micro-batch job, closing the last batch-only LLM-pipeline stage
    * (D32/F30 were batch-only). Input is an admitted-docs stream
    * (doc_id, text) — compose downstream of [[admissionJob]]'s index by
    * streaming its ingested docs, or run standalone on any curated
    * feed. Every admitted doc gets a deterministic, dense, never-reused
    * (shard, pos) address the moment its batch commits: consumers can
    * tail `outDir/data` and train on shards as they fill. Checkpointing
    * + the cursor sidecar make addresses stable across restarts (the
    * StreamingSpec pins byte-identical addresses across a kill +
    * restart replay). */
  def shardExportJob(docs: DataFrame, outDir: String, checkpointDir: String,
      shardSize: Long = 50L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          exportShardBatch(batch.localCheckpoint(true), batchId, outDir,
            shardSize)
        }
        ()
      }
      .start()
}
