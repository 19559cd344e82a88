package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** G6: the end-to-end incremental ingest job — fresh run exports blocks
  * and builds the index; a second run sees the persisted state and
  * (with no newer events) exports nothing. */
class IngestJobSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import org.apache.spark.sql.functions._
  import spark.implicits._

  // a controlled dataDir: documents 12, 30 and 35 over a 10-row customer
  // dimension, the events written per test
  private def controlledData(): String = {
    val data = Files.createTempDirectory("graft_ij_data").toString
    graft.sources.Tables.customer(spark, sf).limit(10)
      .coalesce(1).write.mode("overwrite").parquet(s"$data/customer.parquet")
    data
  }
  private def writeEvents(data: String,
      rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit = {
    rows.toDF("event_id", "ts", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$data/events.parquet")
    spark.catalog.refreshByPath(s"$data/events.parquet")
  }
  private def writeDocs(data: String, doc30: String): Unit = {
    Seq(
      (12L, (0 until 30).map(i => s"noteA$i").mkString(" "), "en", "s1"),
      (30L, doc30, "en", "s1"),
      (35L, (0 until 30).map(i => s"replyB$i").mkString(" "), "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$data/documents.parquet")
    spark.catalog.refreshByPath(s"$data/documents.parquet")
  }
  // distinct per-message timestamps: the reference fname scheme keys on
  // the message ts, so same-second messages would collide on disk
  private val oldTs = java.sql.Timestamp.valueOf("2024-01-15 10:30:00")
  private val oldTs2 = java.sql.Timestamp.valueOf("2024-01-15 10:31:00")

  test("fresh run exports files and indexes chunks; incremental run is a no-op") {
    val out = Files.createTempDirectory("graft_ingest").toString
    val (files1, chunks1, since1) = IngestJob.run(spark, sf, out)
    assert(since1 == 0L, "fresh run must start from epoch 0")
    assert(files1 > 0 && chunks1 > 0)
    assert(new java.io.File(s"$out/state.json").exists)
    // index is partitioned by LSH bucket (partition-pruning layout)
    val bucketDirs = new java.io.File(s"$out/index").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty, "index must be bucket-partitioned")

    val (files2, chunks2, since2) = IngestJob.run(spark, sf, out)
    assert(since2 > 0L, "second run must load the persisted timestamp")
    assert(files2 == 0 && chunks2 == 0,
      "no events newer than last run - look-back => nothing to export")
  }

  test("#EDIT reply routes its parent through the store edit lifecycle; " +
      "re-export replaces the original file") {
    // the reference's process_channel → _handle_edit_flags loop
    // (KnowledgeBot.py:425-536 → 571-611): a thread reply tagged #EDIT
    // makes the job re-fetch the parent's CURRENT text, replace its
    // export file, and swap its chunks in the store. Driven on a
    // controlled dataDir: run 1 ingests the parent; the documents table
    // then changes under it (the "Slack-side edit"); run 2 sees only the
    // new #EDIT reply and must propagate the changed text everywhere.
    val data = controlledData()
    val out = Files.createTempDirectory("graft_ij_out").toString

    // run 1: two old messages (parent 30 among them), no replies
    writeEvents(data, Seq((30L, oldTs, 3L), (12L, oldTs2, 4L)))
    val origText = (0 until 30).map(i => s"orig$i").mkString(" ")
    writeDocs(data, origText)
    val (files1, chunks1, _) = IngestJob.run(spark, data, out)
    assert(files1 == 2 && chunks1 > 0, s"run 1: $files1 files, $chunks1 chunks")
    val exports = new java.io.File(s"$out/knowledge").listFiles().map(_.getName)
    val parentFile = exports.find { n =>
      scala.io.Source.fromFile(s"$out/knowledge/$n").mkString.contains("orig0") }
    assert(parentFile.nonEmpty, s"no export carries the parent text: ${exports.toSeq}")

    // the world changes: doc 30's text is edited, and a thread reply
    // tagged #EDIT lands (id 35: %7==0 ⇒ tagged, %10!=0 ⇒ genuine reply,
    // rounds to parent 30)
    val editedText = (0 until 30).map(i => s"edited$i").mkString(" ")
    writeDocs(data, editedText)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    writeEvents(data, Seq((30L, oldTs, 3L), (12L, oldTs2, 4L), (35L, now, 5L)))
    val ((files2, chunks2, _), trace2) = JobCounter(spark) {
      IngestJob.run(spark, data, out)
    }
    // reply 35 and parent 30 are one batch: one export, one store write
    assert(files2 == 2, s"run 2 exported $files2 files (reply + re-export)")
    assert(chunks2 > 0)
    // the batch reaches the index data in ONE write, in any save mode
    // (staging and sidecars write under their own `_graft_*` dirs)
    val indexWrites = trace2.executions("Arguments: file:" +
      java.util.regex.Pattern.quote(s"$out/index") +
      ", .*, (Append|Overwrite|ErrorIfExists|Ignore), ")
    assert(indexWrites.size == 1,
      s"run 2 wrote index data in ${indexWrites.size} executions")
    // the re-export REPLACED the original file (same fname, new content)
    val after = scala.io.Source.fromFile(s"$out/knowledge/${parentFile.get}").mkString
    assert(after.contains("edited0") && !after.contains("orig0"),
      s"parent export not replaced:\n$after")
    // the store serves the edited chunks only — old text gone, new at rank 1
    spark.catalog.refreshByPath(s"$out/index")
    val c30 = spark.read.parquet(s"$out/index")
      .filter(col("doc_id") === 30L).select("chunk")
      .collect().map(_.getString(0))
    assert(c30.nonEmpty && c30.forall(_.contains("edited")),
      s"stale chunks survived the edit: ${c30.toSeq}")
    assert(!c30.exists(_.contains("orig")), s"old chunk text leaked: ${c30.toSeq}")
    val hits = graft.operators.VectorStore.search(spark, s"$out/index",
      c30.head, k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 30L,
      s"edited chunk not served at rank 1: ${hits.headOption}")
    // and the reply itself was ingested as a regular message
    val reply35 = spark.read.parquet(s"$out/index")
      .filter(col("doc_id") === 35L).count()
    assert(reply35 > 0, "reply 35 not ingested")
    val doc30 = spark.read.parquet(s"$out/index")
      .filter(col("doc_id") === 30L).count()

    // run 3: no NEW messages — but the #EDIT reply is still inside the
    // look-back window, so the flag sweep re-handles it (the reference
    // re-runs _handle_edit_flags over every fetched message each run);
    // re-handling must be IDEMPOTENT: no duplicate chunks anywhere, the
    // reply is NOT re-appended, store contents unchanged
    val (files3, chunks3, _) = IngestJob.run(spark, data, out)
    assert(files3 == 1 && chunks3 == doc30,
      s"run 3 should re-handle exactly the edit: $files3 files/$chunks3 chunks")
    spark.catalog.refreshByPath(s"$out/index")
    assert(spark.read.parquet(s"$out/index")
      .filter(col("doc_id") === 35L).count() == reply35,
      "look-back re-appended the reply's chunks (duplicates)")
    assert(spark.read.parquet(s"$out/index")
      .filter(col("doc_id") === 30L).count() == doc30,
      "edit re-handling duplicated the parent's chunks")
  }

  test("a run with one new message and no #EDIT reply runs at most 7 jobs") {
    val data = controlledData()
    val out = Files.createTempDirectory("graft_ij_one").toString
    writeEvents(data, Seq((30L, oldTs, 3L), (12L, oldTs2, 4L)))
    writeDocs(data, (0 until 30).map(i => s"orig$i").mkString(" "))
    val (files1, _, _) = IngestJob.run(spark, data, out)
    assert(files1 == 2)
    // message 512 arrives (text: document 512 % 500 = 12; not a tagged
    // reply: 512 % 7 != 0)
    writeEvents(data, Seq((30L, oldTs, 3L), (12L, oldTs2, 4L),
      (512L, new java.sql.Timestamp(System.currentTimeMillis()), 5L)))
    val ((files2, chunks2, _), trace) = JobCounter(spark) {
      IngestJob.run(spark, data, out)
    }
    assert(files2 == 1 && chunks2 > 0, s"run 2: $files2 files, $chunks2 chunks")
    info(s"${trace.jobs} jobs")
    assert(trace.jobs <= 7, s"one new message ran ${trace.jobs} jobs (budget 7)")
  }

  test("a run replayed from its pre-run state stores each chunk once") {
    // a crash after the store write but before the state save leaves the
    // old last-run timestamp: the next run re-handles the same window,
    // and its delete-before-append must replace, not duplicate, the
    // chunks the crashed run wrote
    val data = controlledData()
    val out = Files.createTempDirectory("graft_ij_rerun").toString
    writeEvents(data, Seq((30L, oldTs, 3L), (12L, oldTs2, 4L)))
    writeDocs(data, (0 until 30).map(i => s"orig$i").mkString(" "))
    val (files1, chunks1, _) = IngestJob.run(spark, data, out)
    assert(files1 == 2 && chunks1 > 0, s"run 1: $files1 files, $chunks1 chunks")
    // restore the pre-run state: no state file, so the window reopens
    Files.delete(java.nio.file.Paths.get(s"$out/state.json"))
    val (files2, chunks2, since2) = IngestJob.run(spark, data, out)
    assert(since2 == 0L, "the replay must start from the pre-run state")
    assert(files2 == files1 && chunks2 == chunks1,
      s"replay: $files2 files/$chunks2 chunks vs run 1's $files1/$chunks1")
    spark.catalog.refreshByPath(s"$out/index")
    val idx = spark.read.parquet(s"$out/index")
    val twice = idx.groupBy("doc_id", "chunk_ix").count()
      .filter(col("count") > 1).collect()
    assert(twice.isEmpty, s"replay stored chunks twice: ${twice.toSeq}")
    assert(idx.count() == chunks1, "replay changed the chunk count")
  }

  /** The id resolution as it was: the look-back's edit replies mapped to
    * parents, a distinct, a semi-join against the stream, then the new
    * window's ids — the oracle [[IngestJob.resolveIds]] must match. */
  private def oracleIds(events: org.apache.spark.sql.DataFrame, lastRun: Long,
      lookbackS: Long): (Seq[Long], Seq[Long]) = {
    val parents = events
      .filter(unix_timestamp(col("ts")) > lit(lastRun - lookbackS))
      .filter(pmod(col("event_id"), lit(7)) === 0 &&
        pmod(col("event_id"), lit(10)) =!= 0)
      .select((col("event_id") - pmod(col("event_id"), lit(10))).as("parent_id"))
      .distinct()
      .join(events.select(col("event_id").as("parent_id")), Seq("parent_id"),
        "left_semi")
      .collect().map(_.getLong(0)).toSeq.sorted
    val ids = (events.filter(unix_timestamp(col("ts")) > lit(lastRun))
      .select("event_id").collect().map(_.getLong(0)).toSeq ++ parents)
      .distinct.sorted
    (ids, parents)
  }

  test("resolveIds matches the distinct + semi-join resolution") {
    val day = 86400L
    val now = 1700000000L
    def at(s: Long) = new java.sql.Timestamp(s * 1000)
    val lookback = 7 * day
    val lastRun = now - day
    val events = Seq(
      (30L, at(now - 30 * day)),  // a parent outside the look-back
      (35L, at(now)),             // new reply → 30
      (49L, at(now - 2 * day)),   // old reply in the look-back → 40, absent
      (60L, at(now)),             // a new parent ...
      (63L, at(now)),             // ... and its new reply
      (70L, at(now - 3 * day)),   // a parent in the look-back, not new
      (77L, at(now - 3 * day)),   // old reply in the look-back → 70
      (84L, at(now - 40 * day)),  // reply outside the look-back → 80
      (80L, at(now - 50 * day)),
      (91L, at(now)), (95L, at(now)))   // new, 91 → 90 absent
      .toDF("event_id", "ts")
    val dir = Files.createTempDirectory("graft_ij_ids").toString + "/events"
    events.coalesce(1).write.parquet(dir)
    val scanned = spark.read.parquet(dir)
    val ((ids, parents), trace1) = JobCounter(spark)(
      IngestJob.resolveIds(scanned, lastRun, lookback))
    assert((ids, parents) == oracleIds(scanned, lastRun, lookback))
    assert(trace1.jobs == 2, s"${trace1.jobs} jobs with edit replies")
    assert(parents == Seq(30L, 60L, 70L), parents)
    assert(ids == Seq(30L, 35L, 60L, 63L, 70L, 91L, 95L), ids)
    // no edit reply at all: the new window alone, one collect
    val plain = scanned.filter(!col("event_id").isin(35L, 49L, 63L, 77L, 84L, 91L))
    val ((ids2, parents2), trace) = JobCounter(spark)(
      IngestJob.resolveIds(plain, lastRun, lookback))
    assert((ids2, parents2) == oracleIds(plain, lastRun, lookback))
    assert(parents2.isEmpty && ids2 == Seq(60L, 95L))
    assert(trace.jobs == 1, s"${trace.jobs} jobs without an edit reply")
  }
}
