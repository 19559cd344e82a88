package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StructField, StructType}
import graft.functions.Text

/** G49: store-plane HYBRID retrieval — the maintained index's BM25
  * inverted-list sidecar plus the RRF read that fuses it with the dense
  * LSH-bucket leg. The reference IS a Weaviate deployment and Weaviate's
  * signature read is `hybrid` (VectorDatabase/VectorDatabase.py:31-33
  * declares the dense near-text half; the hybrid operator is the store
  * API's headline composition of that leg with BM25) — the registry has
  * the algorithm pair (B18 `ann_hybrid` / B18b `ann_hybrid_bm25`) but
  * until r13 the MAINTAINED store had only dense rungs.
  *
  * Sidecar layout under `indexDir/_graft_lex/`:
  *
  *   - `postings/` — (term, doc_id, chunk_ix, tf, dl, positions, gen),
  *     partitioned by `tbkt` = first md5 hex char of the term (16
  *     partitions; the D32 md5-bucket discipline). `positions` (r16) is
  *     the sorted 0-based token offsets of the term within the chunk —
  *     the phrase/proximity plane. A serving read computes its query
  *     terms' buckets DRIVER-SIDE (md5 is engine-independent), so the
  *     scan prunes to the matching partitions and the `term isin (…)`
  *     predicate pushes into the parquet row-group stats — posting-list
  *     retrieval is ∝ query-term hits, never a corpus scan (the same
  *     bar the r12 verdict set for B18's lexical leg).
  *   - `doclog/` — append-only (doc_id, gen, live, n_chunks, n_tokens),
  *     ONE row per (doc, write op). The latest-gen row per doc is the
  *     doc's lexical state: ingest/append log (live, counts); a delete or
  *     an edit writes one generation ([[logGeneration]]) holding a live
  *     row per re-added doc, a kill row per other id and the re-added
  *     chunks' postings. Postings are
  *     NEVER rewritten by deletes — a read joins hit postings against
  *     the keep-latest doclog and keeps rows whose gen matches the
  *     doc's live gen (the tombstone/generation scheme Lucene-family
  *     stores use, so a 100 TB edit stream costs O(batch) appends, not
  *     posting-file rewrites). Corpus stats (N = live chunks, avgdl =
  *     total tokens div N) fold from the same keep-latest scan — exact
  *     integer arithmetic, identical after any edit history to a fresh
  *     ingest of the surviving docs.
  *
  * Format rule: the sidecar, positions included, is part of the store
  * format — every store that passes the format gate
  * ([[VectorStore.requireFormat]], the `_graft_store.json` marker)
  * carries it, and every read and compaction here runs that gate first.
  * Re-appending an existing doc_id without `edit()` upserts the LEXICAL
  * plane (keep-latest) — use `edit()` to keep the dense plane in step.
  *
  * Scoring: the lexical leg is D30's exact BM25 (k1 = 1.2, b = 0.75,
  * rational Robertson idf, int64 micro-unit floor) over CHUNKS as the
  * retrieval unit (df = live chunks containing the term, dl = chunk
  * token count); the dense leg is the store's raw-weight LSH probe
  * ([[VectorStore.searchInBatch]]). Fusion is B18's RRF: each leg keeps
  * its top-[[LegK]] (deterministic ties → doc_id, chunk_ix), fused =
  * Σ 1/(60 + rank) in a fixed order — bit-deterministic end to end. */
object VectorStoreLex {
  private[operators] val LexDir = "_graft_lex"
  private val LegK = 20
  private val RrfK = 60

  private def postingsPath(indexDir: String) = s"$indexDir/$LexDir/postings"
  private def doclogPath(indexDir: String) = s"$indexDir/$LexDir/doclog"

  private def fs(spark: SparkSession) = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Driver-side twin of the column-side bucket expression: first hex
    * char of md5(term) — both sides of the partition pruning MUST agree. */
  private def termBucket(term: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    f"${(d(0) >> 4) & 0xf}%x"
  }

  /** Tokenizer twin of [[Text.tokens]] (split on single space, drop
    * empties) for driver-side query-term literals. */
  private def tokenize(q: String): Seq[String] =
    q.split(" ", -1).toSeq.filter(_.nonEmpty)

  /** max(gen) + 1 over the doclog, from its row groups' footer
    * statistics (no Spark job). Every writer lands its doclog rows
    * before its postings, so a gen with postings always has doclog rows
    * too: a write cut between the two leaves postings (if any) only at a
    * gen the doclog already names, and a replay writes above it. A
    * doclog created over an empty chunk batch has a schema but zero
    * rows — empty log ⇒ gen 1 (r13 advice). */
  private def nextGen(spark: SparkSession, indexDir: String): Long =
    graft.sources.ParquetFooters.maxLong(spark, doclogPath(indexDir), "gen")
      .getOrElse(0L) + 1L

  /** Ingest hook: index the batch's chunks into the sidecar. `create`
    * = the store was just created, so the sidecar starts fresh at gen 1;
    * otherwise append at the next generation. */
  private[operators] def appendFor(indexDir: String, chunks: DataFrame,
      create: Boolean): Unit = {
    val spark = chunks.sparkSession
    val gen = if (create) 1L else nextGen(spark, indexDir)
    val mode = if (create) "overwrite" else "append"
    val perChunk = chunkPostings(chunks, gen)
    perChunk.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("dl").as("n_tokens"))
      .select(col("doc_id"), lit(gen).as("gen"), lit(true).as("live"),
        col("n_chunks"), col("n_tokens"))
      .coalesce(1)
      .write.mode(mode).parquet(doclogPath(indexDir))
    perChunk.select(explode(col("p")).as("p")).select("p.*")
      .write.mode(mode).partitionBy("tbkt").parquet(postingsPath(indexDir))
  }

  /** Each chunk of `chunks` (doc_id, chunk_ix, chunk) as (doc_id, dl, p):
    * its token count and its postings at generation `gen` — one
    * (doc_id, chunk_ix, term, tf, dl, positions, gen, tbkt) struct per
    * distinct term, `tbkt` last. Row-local: all of a chunk's terms sit in
    * its own row, so each term's tf and sorted 0-based positions (r16,
    * the phrase/proximity plane of [[searchPhrase]]) come from its token
    * array — no groupBy shuffle. The one postings expression: a Spark
    * write explodes `p` ([[appendFor]]); an edit's generation folds it on
    * the driver ([[logGeneration]]). */
  private def chunkPostings(chunks: DataFrame, gen: Long): DataFrame = {
    val toks = col("toks")
    val dl = size(toks).cast("long")
    chunks
      .select(col("doc_id"), col("chunk_ix"), Text.tokens(col("chunk")).as("toks"))
      .select(col("doc_id"), dl.as("dl"),
        transform(transform(array_distinct(toks), t => struct(t.as("term"),
          filter(sequence(lit(0), size(toks) - 1),
            i => element_at(toks, i + 1) === t).as("positions"))),
          p => struct(col("doc_id"), col("chunk_ix"), p("term").as("term"),
            size(p("positions")).cast("long").as("tf"), dl.as("dl"),
            p("positions").as("positions"), lit(gen).as("gen"),
            substring(md5(p("term")), 1, 1).as("tbkt"))).as("p"))
  }

  /** A delete's or an edit's lexical write: ONE generation at the next
    * gen, from the driver. `chunks` is the edit's driver-local frame of
    * new rows (doc_id, chunk_ix, chunk, …), if any; its postings fold on
    * the driver. The doclog rows — a live row per doc of `chunks`, a kill
    * row per other id of `ids` — land in one file first, then the
    * postings, one file per `tbkt` ([[nextGen]] needs that order). No
    * Spark job. A kill row leaves the doc's postings on disk; the
    * keep-latest read stops serving them. */
  private[operators] def logGeneration(spark: SparkSession, indexDir: String,
      chunks: Option[DataFrame], ids: Seq[Long]): Unit = {
    val gen = nextGen(spark, indexDir)
    val postings = chunks.map(chunkPostings(_, gen))
    val perChunk = postings.toSeq.flatMap(graft.sources.LocalFrames.rows)
    val live = perChunk.groupBy(_.getLong(0)).map { case (d, cs) =>
      Row(d, gen, true, cs.length.toLong, cs.map(_.getLong(1)).sum) }.toSeq
    val liveIds = live.map(_.getLong(0)).toSet
    val log = live.sortBy(_.getLong(0)) ++
      ids.distinct.filterNot(liveIds).map(d => Row(d, gen, false, 0L, 0L))
    if (log.isEmpty) return
    graft.sources.ParquetFooters.write(spark, doclogPath(indexDir),
      StructType(Seq("doc_id", "gen").map(StructField(_, LongType, false)) ++
        Seq(StructField("live", BooleanType, false)) ++
        Seq("n_chunks", "n_tokens").map(StructField(_, LongType, false))),
      log, overwrite = false)
    postings.foreach { pc =>
      // the struct's fields, `tbkt` last: it names the directory
      val fields = pc.schema("p").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType].fields
      perChunk.flatMap(_.getSeq[Row](2)).groupBy(_.getString(fields.length - 1))
        .toSeq.sortBy(_._1).foreach { case (b, ps) =>
          graft.sources.ParquetFooters.write(spark,
            s"${postingsPath(indexDir)}/tbkt=$b", StructType(fields.init),
            ps.map(p => Row.fromSeq(p.toSeq.init)), overwrite = false)
        }
    }
  }

  /** Keep-latest doclog state: (doc_id, lgen, live, n_chunks, n_tokens).
    * gen is unique per (doc, op), so max(struct(gen, …)) picks the
    * newest op's row — a map-side-combining groupBy, no window. */
  private def latestDoclog(spark: SparkSession, indexDir: String): DataFrame = {
    spark.catalog.refreshByPath(doclogPath(indexDir))
    spark.read.parquet(doclogPath(indexDir))
      .groupBy("doc_id")
      .agg(max(struct(col("gen"), col("live"),
        col("n_chunks"), col("n_tokens"))).as("m"))
      .select(col("doc_id"), col("m.gen").as("lgen"), col("m.live").as("live"),
        col("m.n_chunks").as("n_chunks"), col("m.n_tokens").as("n_tokens"))
  }

  /** G49b: lexical-sidecar compaction — the GC a tombstone/generation
    * scheme eventually needs: edits/deletes only APPEND (kill rows,
    * superseded gens), so dead postings accumulate until someone
    * rewrites. Compaction keeps exactly the live rows (gen = the doc's
    * latest live gen) and collapses the doclog to one latest-live row
    * per doc — the derived serving state is UNCHANGED by construction,
    * which also makes the swap's crash windows benign: old postings +
    * old doclog, new + old, and new + new all serve identical results
    * (liveness is what compaction preserves), and a half-done swap is
    * finished by recover() off the compact manifest.
    *
    * Protocol (the edit-journal discipline): stage the compacted
    * postings + doclog to `_tmp` dirs, commit a `lexcompact` manifest
    * (temp + rename), then swap each dir (delete final, rename tmp) and
    * retire the manifest. The swap is idempotent — a tmp dir that still
    * exists swaps, one that's gone already swapped — so recover()
    * replays it from any crash point. Returns (kept, dropped) posting
    * rows. */
  def compactLex(spark: SparkSession, indexDir: String): (Long, Long) = {
    val counts = stageCompactLex(spark, indexDir)
    swapCompactLex(spark, indexDir)
    counts
  }

  private def compactManifest(indexDir: String) =
    new org.apache.hadoop.fs.Path(
      s"$indexDir/${VectorStore.ManifestDir}/lexcompact.json")

  private[graft] def stageCompactLex(spark: SparkSession,
      indexDir: String): (Long, Long) = {
    VectorStore.requireFormat(spark, indexDir)
    val live = latestDoclog(spark, indexDir).filter(col("live"))
    spark.catalog.refreshByPath(postingsPath(indexDir))
    val posts = spark.read.parquet(postingsPath(indexDir))
    val total = posts.count()
    val kept = posts
      .join(live.select(col("doc_id"), col("lgen")), Seq("doc_id"))
      .filter(col("gen") === col("lgen"))
      .drop("lgen")
    kept.write.mode("overwrite").partitionBy("tbkt")
      .parquet(s"${postingsPath(indexDir)}_tmp")
    live.select(col("doc_id"), col("lgen").as("gen"), col("live"),
        col("n_chunks"), col("n_tokens"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${doclogPath(indexDir)}_tmp")
    val keptN = spark.read.parquet(s"${postingsPath(indexDir)}_tmp").count()
    VectorStore.commitJson(fs(spark), compactManifest(indexDir), "{}")
    (keptN, total - keptN)
  }

  /** Idempotent swap half of [[compactLex]] — also the recover() replay:
    * a `_tmp` dir that still exists replaces its final dir; one already
    * gone means that rename completed before the crash. */
  private[graft] def swapCompactLex(spark: SparkSession,
      indexDir: String): Unit = {
    val f = fs(spark)
    def swapOne(path: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"${path}_tmp")
      val fin = new org.apache.hadoop.fs.Path(path)
      if (f.exists(tmp)) {
        f.delete(fin, true)
        require(f.rename(tmp, fin), s"compact swap failed: $tmp -> $fin")
      }
    }
    swapOne(postingsPath(indexDir))
    swapOne(doclogPath(indexDir))
    f.delete(compactManifest(indexDir), false)
  }

  /** recover() hook: finish a half-swapped compaction if its manifest
    * is pending. Returns true if one was replayed. With NO manifest
    * pending, any `_tmp` dir on disk is a pre-commit orphan (a crash in
    * [[stageCompactLex]] before the manifest rename) — its staged state
    * was never promised, so it is swept here rather than left to
    * accumulate until the next compactLex overwrites it (r13 advice). */
  private[operators] def recoverCompact(spark: SparkSession,
      indexDir: String): Boolean = {
    val f = fs(spark)
    if (!f.exists(compactManifest(indexDir))) {
      Seq(postingsPath(indexDir), doclogPath(indexDir)).foreach { p =>
        val tmp = new org.apache.hadoop.fs.Path(s"${p}_tmp")
        if (f.exists(tmp)) f.delete(tmp, true)
      }
      false
    } else { swapCompactLex(spark, indexDir); true }
  }

  /** The lexical leg, ranked: (query_id, doc_id, chunk_ix, score,
    * lex_rank ≤ legK). Query terms become driver literals (bounded query
    * batch — the D30 discipline): partition pruning and the term
    * predicate pushdown both need literals. Corpus stats fold to two
    * longs (exact integers; avgdl = floor div). */
  private def lexLeg(spark: SparkSession, indexDir: String,
      queries: Seq[String], legK: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val qTermPairs: Seq[(Long, String)] = queries.zipWithIndex.flatMap {
      case (q, i) => tokenize(q).distinct.map(t => (i.toLong, t))
    }
    val terms = qTermPairs.map(_._2).distinct
    val tbkts = terms.map(termBucket).distinct
    val live = latestDoclog(spark, indexDir).filter(col("live"))
    val statsRow = live.agg(
      coalesce(sum("n_chunks"), lit(0L)).as("n"),
      coalesce(sum("n_tokens"), lit(0L)).as("t")).head()
    val nChunks = statsRow.getLong(0)
    val avgdl = if (nChunks == 0) 1L else statsRow.getLong(1) / nChunks
    spark.catalog.refreshByPath(postingsPath(indexDir))
    val hit0 = spark.read.parquet(postingsPath(indexDir))
      .filter(col("tbkt").isin(tbkts: _*) && col("term").isin(terms: _*))
      .join(live.select(col("doc_id"), col("lgen")),
        Seq("doc_id"))
      .filter(col("gen") === col("lgen"))
      .select("term", "doc_id", "chunk_ix", "tf", "dl")
    // df/idf stay INDEX-WIDE (Weaviate's filtered-BM25 semantics: the
    // filter restricts candidates, not corpus statistics) — so df folds
    // from the unfiltered live hits, then the allowed-set semi-join
    // lands BELOW the rank window: top-legK fills from allowed rows
    // only, never a post-rank filter that could under-fill. No
    // broadcast hint on `allowed` — it is predicate-sized (can be most
    // of the index); the hit side is query-term-bounded, so AQE picks
    // the build side.
    val dft = hit0.groupBy("term").agg(count(lit(1)).as("df"))
    val hit = allowed.fold(hit0)(a =>
      hit0.join(a.select("doc_id", "chunk_ix"),
        Seq("doc_id", "chunk_ix"), "left_semi"))
    val qterms = qTermPairs.toDF("query_id", "term")
    // D30's exact rational BM25 (k1 = 1.2, b = 0.75), micro-unit floored
    val num = lit(22L) * col("tf") * lit(avgdl) *
      (lit(2L) * lit(nChunks) - lit(2L) * col("df") + lit(1L))
    val den = (lit(2L) * col("df") + lit(1L)) *
      (lit(10L) * col("tf") * lit(avgdl) + lit(3L) * lit(avgdl) +
        lit(9L) * col("dl"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"), col("chunk_ix"))
    broadcast(qterms).join(hit, "term")
      .join(broadcast(dft), "term")
      .withColumn("fp",
        floor(num.cast("double") / den.cast("double") * 1e6 + 0.5)
          .cast("long"))
      .groupBy("query_id", "doc_id", "chunk_ix")
      .agg(sum("fp").as("score"))
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .filter(col("lex_rank") <= legK)
  }

  /** Pure-BM25 read, single query (Weaviate's `bm25` operator to
    * [[searchHybrid]]'s `hybrid`). Output: (rank, doc_id, chunk_ix,
    * chunk, score) — score in D30's int64 micro-units. */
  def searchLex(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5): DataFrame =
    searchLexBatch(spark, indexDir, Seq(query), k).drop("query_id")

  /** Pure-BM25 read, many queries through one plan. */
  def searchLexBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5): DataFrame = {
    VectorStore.requireFormat(spark, indexDir)
    val ranked = lexLeg(spark, indexDir, queries, k)
      .select(col("query_id"), col("lex_rank").as("rank"),
        col("doc_id"), col("chunk_ix"), col("score"))
    VectorStore.readIndex(spark, indexDir).select("doc_id", "chunk_ix", "chunk")
      .join(broadcast(ranked), Seq("doc_id", "chunk_ix"))
      .select("query_id", "rank", "doc_id", "chunk_ix", "chunk", "score")
      .orderBy("query_id", "rank")
  }

  /** Hybrid read, single query: [[searchHybridBatch]]'s plan for one
    * query (hybrid leg ranks must be identical in both shapes, so the
    * single path IS the batch-of-one — HybridStoreSpec pins batch ≡
    * single on top). Output: (rank, doc_id, chunk_ix, chunk, fused,
    * lex_rank, vec_rank). */
  def searchHybrid(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5): DataFrame =
    searchHybridBatch(spark, indexDir, Seq(query), k).drop("query_id")

  /** Hybrid read, many queries through one plan (the G23/G26 batch
    * pattern). Per query: dense leg = the store's LSH-bucket raw-dot
    * probe top-[[LegK]]; lexical leg = BM25 over the query terms' live
    * postings top-[[LegK]]; RRF-fused top-k. The chunk text of the ≤k
    * winners is fetched in one final broadcast-keyed probe of the index
    * (late materialization — the legs rank ids, never carry text). */
  def searchHybridBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5): DataFrame =
    hybridBatchIn(spark, indexDir, queries, k, None)

  /** Metadata-filtered hybrid read (r16): [[searchHybrid]] under a
    * predicate over index columns (conventionally the ingested `meta`
    * map). BOTH legs pre-filter — the dense LSH probe scans the
    * predicate-filtered index, and the lexical leg semi-joins its live
    * postings against the filtered (doc, chunk) set BELOW its rank
    * window — so each leg's top-[[LegK]] and the fused top-k fill
    * entirely from matching rows (a post-filter over unfiltered legs
    * would under-fill AND mis-rank: RRF ranks would count excluded
    * rows). BM25 corpus stats stay index-wide (the Weaviate filtered
    * semantics). A store without meta refuses loudly — re-ingest. */
  def searchHybridFiltered(spark: SparkSession, indexDir: String,
      query: String, pred: org.apache.spark.sql.Column, k: Int = 5)
      : DataFrame =
    searchHybridFilteredBatch(spark, indexDir, Seq(query), pred, k)
      .drop("query_id")

  /** Batch twin of [[searchHybridFiltered]] — rank-for-rank identical
    * per query (the batch-of-one invariant HybridStoreSpec pins). */
  def searchHybridFilteredBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], pred: org.apache.spark.sql.Column, k: Int = 5)
      : DataFrame = {
    VectorStore.requireFilterable(spark, indexDir, pred)
    hybridBatchIn(spark, indexDir, queries, k, Some(pred))
  }

  /** Phrase query, single (r16 — the second-most-common lexical read
    * after bag-of-words BM25): chunks containing the EXACT token
    * sequence, ranked by occurrence count. Output: (rank, doc_id,
    * chunk_ix, chunk, n_matches). */
  def searchPhrase(spark: SparkSession, indexDir: String, phrase: String,
      k: Int = 5): DataFrame =
    searchPhraseBatch(spark, indexDir, Seq(phrase), k).drop("query_id")

  /** Phrase query, many phrases through ONE uniform plan — the classic
    * positional-intersection via offset alignment: each (phrase, ord,
    * term) joins its live postings, every posting position explodes to a
    * candidate start `pos − ord`, and a start that collects ALL of the
    * phrase's ords is a match (adjacency in order, exactly). One keyed
    * aggregate over rows bounded by the query terms' posting sizes — no
    * per-phrase plan, no n-way self-join chain; duplicate terms in a
    * phrase work because each ord contributes its own row per position.
    * Liveness is the BM25 read's keep-latest gen discipline, so edits/
    * deletes/compaction serve phrases exactly like bag-of-words reads.
    * Single-term phrases degenerate to term lookup with n_matches = tf. */
  def searchPhraseBatch(spark: SparkSession, indexDir: String,
      phrases: Seq[String], k: Int = 5): DataFrame = {
    VectorStore.requireFormat(spark, indexDir)
    spark.catalog.refreshByPath(postingsPath(indexDir))
    val posts = spark.read.parquet(postingsPath(indexDir))
    import spark.implicits._
    val qOrd: Seq[(Long, Int, String)] = phrases.zipWithIndex.flatMap {
      case (p, i) => tokenize(p).zipWithIndex.map {
        case (t, ord) => (i.toLong, ord, t) }
    }
    require(qOrd.nonEmpty, "no query terms after tokenization")
    val qlens = phrases.zipWithIndex
      .map { case (p, i) => (i.toLong, tokenize(p).size.toLong) }
      .toDF("query_id", "qlen")
    val terms = qOrd.map(_._3).distinct
    val tbkts = terms.map(termBucket).distinct
    val qdf = qOrd.toDF("query_id", "ord", "term")
    val live = latestDoclog(spark, indexDir).filter(col("live"))
    val hit = posts
      .filter(col("tbkt").isin(tbkts: _*) && col("term").isin(terms: _*))
      .join(live.select(col("doc_id"), col("lgen")), Seq("doc_id"))
      .filter(col("gen") === col("lgen"))
      .select("term", "doc_id", "chunk_ix", "positions")
    // offset alignment: a posting position p under phrase ord o votes for
    // start p − o; a start with qlen votes is a full phrase occurrence
    val aligned = broadcast(qdf).join(hit, "term")
      .select(col("query_id"), col("ord"), col("doc_id"), col("chunk_ix"),
        explode(col("positions")).as("p"))
      .select(col("query_id"), col("ord"), col("doc_id"), col("chunk_ix"),
        (col("p") - col("ord")).as("start"))
      .filter(col("start") >= 0)
    val matches = aligned
      .groupBy("query_id", "doc_id", "chunk_ix", "start")
      .agg(count(lit(1)).as("nv"))
      .join(broadcast(qlens), "query_id")
      .filter(col("nv") === col("qlen"))
      .groupBy("query_id", "doc_id", "chunk_ix")
      .agg(count(lit(1)).as("n_matches"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_matches").desc, col("doc_id"), col("chunk_ix"))
    val ranked = matches
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    VectorStore.readIndex(spark, indexDir).select("doc_id", "chunk_ix", "chunk")
      .join(broadcast(ranked), Seq("doc_id", "chunk_ix"))
      .select("query_id", "rank", "doc_id", "chunk_ix", "chunk", "n_matches")
      .orderBy("query_id", "rank")
  }

  private def hybridBatchIn(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int,
      pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    spark.catalog.refreshByPath(indexDir)
    val idx0 = VectorStore.open(spark, indexDir)
    val idx = pred.fold(idx0)(idx0.filter)
    val lex = lexLeg(spark, indexDir, queries, LegK, pred.map(_ => idx))
      .select("query_id", "doc_id", "chunk_ix", "lex_rank")

    // --- dense leg (pre-filtered scan when a predicate is given) --------
    val dense = VectorStore.searchInBatch(spark, idx, queries, LegK)
      .select(col("query_id"), col("doc_id"), col("chunk_ix"),
        col("rank").cast("long").as("vec_rank"))

    // --- RRF fusion + late text materialization -------------------------
    val wF = Window.partitionBy("query_id")
      .orderBy(col("fused").desc, col("doc_id"), col("chunk_ix"))
    val fused = lex.join(dense, Seq("query_id", "doc_id", "chunk_ix"),
        "full_outer")
      .withColumn("fused",
        when(col("lex_rank").isNotNull,
          lit(1.0) / (lit(RrfK) + col("lex_rank"))).otherwise(lit(0.0)) +
        when(col("vec_rank").isNotNull,
          lit(1.0) / (lit(RrfK) + col("vec_rank"))).otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= k)
    VectorStore.readIndex(spark, indexDir).select("doc_id", "chunk_ix", "chunk")
      .join(broadcast(fused), Seq("doc_id", "chunk_ix"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_ix"),
        col("chunk"), col("fused"), col("lex_rank"), col("vec_rank"))
      .orderBy("query_id", "rank")
  }
}
