package graft

import graft.functions.Text
import graft.operators.VectorStore
import graft.sources.{KnowledgeFiles, LocalFrames, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end batch job a reference user runs: the engine-side
  * equivalent of `KnowledgeBot.main` + `VectorDatabase.ingest_documents`
  * (KnowledgeBot.py:668-706) —
  *
  *  1. load persisted incremental state (last_run_timestamp),
  *  2. scan the message stream for rows STRICTLY newer than last_run
  *     (the reference's reply filter, KnowledgeBot.py:466-474) — the
  *     look-back widens only the edit-flag sweep,
  *  3. resolve #EDIT-tagged thread replies (over the full look-back
  *     window, re-handled idempotently like the reference's per-run
  *     _handle_edit_flags sweep) to their parent messages, which join
  *     the batch so their CURRENT text is re-exported and re-indexed
  *     (the reference's `process_channel` → `_handle_edit_flags` loop,
  *     KnowledgeBot.py:425-536 → 571-611),
  *  4. extract `#KNOWLEDGE … #END` blocks, enrich with author/mention
  *     metadata and deterministic keywords/summary — collected to the
  *     driver once, in one Spark job plus its broadcasts (volume bound:
  *     the batch's ids are already collected by [[resolveIds]], and each
  *     message yields a few blocks), into a local relation that steps 5
  *     and 6 read,
  *  5. render header+body export files with the reference filename scheme
  *     (an edited parent re-renders to the SAME fname — the rewrite
  *     replaces the original export, as the reference's re-export does):
  *     the same Spark expressions, folded on the driver over the local
  *     relation (no job), and the files written from the driver,
  *  6. chunk + embed + LSH-bucket the batch into a parquet vector index
  *     through one [[VectorStore.edit]] of the batch's ids — one rewrite
  *     of the partitions the batch touches, so an edited parent swaps its
  *     chunks and a run replayed after a crash before step 7 replaces its
  *     chunks instead of storing them twice; the edit keeps the batch on
  *     the driver from its staged copy to its merge,
  *  7. persist the new state timestamp.
  *
  * Usage: runMain graft.IngestJob <dataDir> <outDir>
  */
object IngestJob {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args.take(2)
    val spark = GraftSession.build("graft-ingest")
    val (nFiles, nChunks, since) = run(spark, dataDir, outDir)
    println(s"""{"files":$nFiles,"chunks":$nChunks,"since":$since}""")
    spark.stop()
  }

  /** One incremental batch; returns (files exported, chunks indexed,
    * previous last-run timestamp). Separated from `main` so tests drive
    * fresh + edit + incremental runs on a shared session. */
  def run(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      outDir: String): (Long, Long, Long) = {
    val cfg = GraftConfig.load()
    val stateFile = s"$outDir/state.json"
    val indexDir = s"$outDir/index"
    // store open, before any export: recover refuses a store of another
    // format, then replays any journal a crashed prior run left
    if (VectorStore.occupied(spark, indexDir))
      VectorStore.recover(spark, indexDir)
    val lastRun = GraftConfig.loadLastRun(stateFile)
    val lookbackS = cfg.threadMaxAgeDays * 86400L
    val startedAt = System.currentTimeMillis() / 1000

    val events = Tables.events(spark, dataDir)
    val users = Tables.customer(spark, dataDir).select(
      (col("c_custkey") - 1).as("uid"), col("c_name"))

    // message stream = events; text payload synthesized deterministically
    // (the test corpus carries no literal #KNOWLEDGE markers); re-deriving
    // an edited parent here is how the reference "re-fetches the parent's
    // CURRENT text" at edit time (a changed documents row flows into the
    // re-export)
    def blocksOf(ev: DataFrame): DataFrame = {
      val msgs = ev
        .join(broadcast(Tables.documents(spark, dataDir)),
          ev("event_id") % 500 === col("doc_id"))
        .select(col("event_id"), col("ts"), col("user_id"),
          concat(lit(cfg.knowledgeTag + " "), col("text"),
            lit(" " + cfg.endTag)).as("msg"))
      msgs
        .select(col("event_id"), col("ts"), col("user_id"),
          posexplode(Text.knowledgeBlocks(col("msg"))))
        .select(col("event_id"), col("ts"), col("user_id"),
          (col("pos") + 1).as("ordinal"), trim(col("col")).as("block"))
        .join(broadcast(users), col("user_id") === col("uid"), "left")
        .withColumn("summary", Text.leadingWords(col("block"), 25))
    }

    def renderExport(blocks: DataFrame): DataFrame = blocks.select(
      concat(lit("events_"), date_format(col("ts"), "yyyyMMdd"), lit("_"),
        expr("unix_micros(ts) div 1000000"), lit("_"),
        lpad(expr("unix_micros(ts) % 1000000"), 6, "0"), lit("_"),
        lpad(col("ordinal"), 2, "0"), lit(".txt")).as("fname"),
      KnowledgeFiles.renderContent(Seq(
        "Channel Name" -> lit("events"),
        "Message Date" -> date_format(col("ts"), "dd MMMM yyyy"),
        "Message Author" -> col("c_name"),
        "Summary" -> col("summary")), col("block")).as("content"))

    // new-message window: STRICTLY newer than last run — the reference
    // filters thread messages by `ts > last_run_timestamp` exactly
    // (KnowledgeBot.py:466-474), so a message is exported and ingested
    // once. (The look-back widens only the EDIT-flag sweep below; using
    // it here would re-append every recent message on every run.)
    val inWindow = newerThan(lastRun)

    val (ids, parentIds) = resolveIds(events, lastRun, lookbackS)

    val (nFiles, nChunks) =
      if (ids.isEmpty) (0L, 0L)
      else {
        val blocks = LocalFrames.of(blocksOf(events
          .filter(inWindow || col("event_id").isInCollection(parentIds))
          .select(col("event_id"), col("ts"), col("user_id"))))
        val files = KnowledgeFiles.write(renderExport(blocks),
          s"$outDir/knowledge")
        val (_, added) = VectorStore.edit(spark, indexDir, ids,
          blocks.select(col("event_id").as("doc_id"), col("block").as("text")),
          cfg.chunkSize, cfg.chunkOverlap)
        (files, added)
      }

    GraftConfig.saveLastRun(stateFile, startedAt)
    (nFiles, nChunks, lastRun)
  }

  private def newerThan(t: Long): Column = unix_timestamp(col("ts")) > lit(t)

  /** The batch's ids, sorted — the messages STRICTLY newer than
    * `lastRun` plus the resolved #EDIT parents — and those parents alone,
    * sorted; two driver collects at most. */
  private[graft] def resolveIds(events: DataFrame, lastRun: Long,
      lookbackS: Long): (Seq[Long], Seq[Long]) = {
    val inWindow = newerThan(lastRun)
    // #EDIT resolution (the A14 rule, kb_edit_resolve): a tag counts only
    // in a genuine thread REPLY (root id = event_id rounded to 10, tag
    // when event_id % 7 == 0), each resolving to its parent message —
    // which must itself exist in the stream. The sweep spans the full
    // look-back window, not just the new batch: the reference re-runs
    // _handle_edit_flags over every fetched message each run
    // (KnowledgeBot.py:446-458) — re-handling is idempotent because the
    // edit lifecycle is delete-then-reingest of the parent's CURRENT
    // text.
    val editSweep = newerThan(lastRun - lookbackS) &&
      pmod(col("event_id"), lit(7)) === 0 && pmod(col("event_id"), lit(10)) =!= 0

    // one collect of the window's new messages (the same set the
    // reference holds in memory) and the look-back's edit replies; then,
    // when there are candidate parents, one pushed-down isInCollection
    // read that keeps those that exist. (Volume bound: the replies are
    // human-generated edit requests per window — the reference handles
    // them one at a time — so the collected rows and the isInCollection
    // literals stay small; a pathological machine-generated flood should
    // be chunked into multiple runs, not widened here.)
    val recent = events.filter(inWindow || editSweep)
      .select(col("event_id"), inWindow.as("is_new"),
        editSweep.as("is_edit_reply"))
      .collect()
    val candidates = recent.filter(_.getBoolean(2))
      .map(r => r.getLong(0) - Math.floorMod(r.getLong(0), 10L)).distinct
    val parentIds =
      if (candidates.isEmpty) Seq.empty[Long]
      else events.filter(col("event_id").isInCollection(candidates))
        .select("event_id").collect().map(_.getLong(0)).toSeq.distinct.sorted
    val ids = (recent.filter(_.getBoolean(1)).map(_.getLong(0)).toSeq ++
      parentIds).distinct.sorted
    (ids, parentIds)
  }
}
