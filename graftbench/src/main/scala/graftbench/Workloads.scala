package graftbench

import graft.{GraftConfig, IngestJob, SparkEntry}
import graft.operators.VectorStore
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The workloads. Each runs `a.reps` set-up repetitions (the last one
  * leaves the state the timed loop uses), then timed rounds until
  * `a.seconds` have passed, always finishing the current round so every
  * round has the same mix of calls. */
object Workloads {
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(what)

  private def loop(a: Args)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) { round(i); i += 1 }
  }

  private val K = 10

  /** Ranks are 1..n with n <= k, and scores never increase with rank (for
    * an MMR route only rank 1 must hold the top relevance). A bucket-probed
    * read may find no candidate for unseen text; recall scores that. */
  private def checkRanked(rows: Seq[Row], mmr: Boolean): Unit = {
    val ranks = rows.map(_.getAs[Number]("rank").intValue)
    check(rows.size <= K, s"${rows.size} rows for k=$K")
    check(ranks == (1 to rows.size), s"ranks ${ranks.mkString(",")}")
    val sc = rows.map(_.getAs[Double]("score"))
    if (mmr) check(sc.isEmpty || sc.head >= sc.max, s"rank 1 score ${sc.head} < ${sc.max}")
    else check(sc.zip(sc.drop(1)).forall { case (x, y) => x >= y },
      s"scores rise with rank: ${sc.mkString(",")}")
  }

  private def maybeReverse(a: Args, rows: Seq[Row]): Seq[Row] =
    if (a.fault == "reversed_ranks") rows.reverse else rows

  private def hits(rows: Seq[Row]): Seq[(Long, Int)] =
    rows.map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("chunk_ix")))

  // ------------------------------------------------------------ read routes

  private final case class Chunk(doc: Long, ix: Int, text: String, raw: Array[Long])

  private final case class Route(name: String, mmr: Boolean,
      single: (SparkSession, String, String) => DataFrame,
      batch: (SparkSession, String, Seq[String]) => DataFrame)

  /** The reads timed after each batch besides the freshness read (the
    * `search` route), one per retrieval family: zone-map pruned scan,
    * MMR re-rank, PQ-ADC shortlist and IVF cells. Every chunk IngestJob
    * writes carries batch tag 0, so the tag-range read spans the store. */
  private val routes: Seq[Route] = {
    import VectorStore._
    Seq(
      Route("tag_range", false, searchTagRange(_, _, _, 0L, 0L, K),
        searchTagRangeBatch(_, _, _, 0L, 0L, K)),
      Route("diverse", true, searchDiverse(_, _, _, K), searchDiverseBatch(_, _, _, K)),
      Route("compressed", false, searchCompressed(_, _, _, K),
        searchCompressedBatch(_, _, _, K)),
      Route("cells", false, searchCells(_, _, _, K), searchCellsBatch(_, _, _, K)))
  }

  private def cosine(q: Array[Long], c: Array[Long]): Double = {
    var dot, sq, sc = 0L; var i = 0
    while (i < q.length) { dot += q(i) * c(i); sq += q(i) * q(i); sc += c(i) * c(i); i += 1 }
    if (sq > 0 && sc > 0) dot.toDouble / (math.sqrt(sc.toDouble) * math.sqrt(sq.toDouble)) else 0.0
  }

  /** Share of the exact top-k (brute-force cosine over every stored `raw`
    * vector) that a read returned; a returned chunk scoring at least the
    * exact k-th score counts, so ties cannot cost recall. */
  private def recall(store: Seq[Chunk], qraw: Array[Long], got: Seq[(Long, Int)]): Double = {
    val exact = store.map(c => ((c.doc, c.ix), cosine(qraw, c.raw))).toMap
    val kth = exact.values.toSeq.sorted(Ordering[Double].reverse).take(K).lastOption.getOrElse(0.0)
    got.count(g => exact.get(g).exists(_ >= kth - 1e-12)).toDouble / math.min(K, exact.size).max(1)
  }

  // ---------------------------------------------------------------- kb_ingest

  def kbIngest(spark: SparkSession, a: Args, rec: Recorder): Unit = {
    import spark.implicits._
    val man = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${a.data}/stream/manifest.json"))
    val batches = (0 until man.size).map(man.get)
    def ids(b: Int): Seq[Long] = {
      val n = batches(b).get("ids"); (0 until n.size).map(n.get(_).asLong)
    }
    var dataDir, outDir = ""
    // the batch's messages arrive; the state file holds the previous boundary
    def stage(b: Int): Unit = {
      Fs.copy(s"${a.data}/stream/batch_$b.parquet", s"$dataDir/events.parquet/part-$b.parquet")
      Fs.copy(s"${a.data}/stream/docs_${batches(b).get("docs_version").asInt}.parquet",
        s"$dataDir/documents.parquet/part-0.parquet")
      GraftConfig.saveLastRun(s"$outDir/state.json", batches(b).get("last_run_s").asLong)
    }
    for (rep <- 0 until a.reps) {
      dataDir = s"${a.work}/kb_data_$rep"; outDir = s"${a.work}/kb_out_$rep"
      Fs.rm(dataDir); Fs.rm(outDir)
      Fs.copy(s"${a.data}/customer.parquet", s"$dataDir/customer.parquet")
      stage(0)
      val (files, _, _) = rec.setupRep(rep)(IngestJob.run(spark, dataDir, outDir))
      check(files == ids(0).size, s"history run exported $files files, expected ${ids(0).size}")
    }
    val indexDir = s"$outDir/index"
    val edited = ArrayBuffer.empty[(Long, String)] // parent -> current text
    val rnd = new scala.util.Random(a.seed)
    loop(a) { i =>
      val b = i + 1
      check(b < batches.size, s"stream has only ${batches.size - 1} batches")
      val m = batches(b)
      stage(b)
      Option(m.get("edit")).filterNot(_.isNull).foreach { e =>
        edited += e.get("parent").asLong -> e.get("text").asText
      }
      val bytes0 = Fs.bytes(outDir)
      // every edit reply stays inside the look-back, so each batch re-exports
      // all parents edited so far
      val expectFiles = ids(b).size + edited.size
      rec.op("ingest_batch", s"batch_$b", "IngestJob")(IngestJob.run(spark, dataDir, outDir))(identity) {
        case (files, chunks, _) =>
          if (a.fault == "dup_chunk") plantDuplicate(indexDir)
          check(files == expectFiles, s"exported $files files, expected $expectFiles " +
            s"(${ids(b).size} new + ${edited.size} re-exported parents)")
          val idx = spark.read.parquet(indexDir)
          val dups = idx.groupBy("doc_id", "chunk_ix").count().filter(col("count") > 1).count()
          check(dups == 0, s"$dups (doc_id, chunk_ix) pairs appear more than once in the index")
          // messages are one chunk long, so a parent's only chunk is its text
          val want = edited.toMap
          val got = idx.filter(col("doc_id").isInCollection(want.keys.toSeq))
            .select("doc_id", "chunk").collect()
          check(got.length == want.size && got.forall(r => r.getString(1) == want(r.getLong(0))),
            s"edited parents hold stale or missing chunks: " +
              got.map(r => s"${r.getLong(0)}='${r.getString(1)}'").mkString(", "))
          Map("files" -> files, "chunks" -> chunks,
            "bytes_written" -> (Fs.bytes(outDir) - bytes0),
            "store_files" -> Fs.dataFiles(indexDir),
            "index_bytes" -> Fs.bytes(indexDir))
      }

      val store = spark.read.parquet(indexDir).select("doc_id", "chunk_ix", "chunk", "raw")
        .collect().map(r => Chunk(r.getLong(0), r.getInt(1), r.getString(2),
          r.getSeq[Long](3).toArray)).toSeq
      val vocab = store.flatMap(_.text.split(" ")).distinct.sorted
      // the freshness query, then one query per read: stored chunk text and
      // unseen text alternate
      val queries = m.get("newest_text").asText +: (1 to routes.size + 8).map { j =>
        if (j % 2 == 1) store(rnd.nextInt(store.size)).text
        else Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val qraw = queries.toDF("q")
        .select(call_function("graft_hash_embed", col("q"), lit(VectorStore.Dim)))
        .collect().map(_.getSeq[Long](0).toArray)

      val newest = m.get("newest").asLong
      rec.op("read", "search", "VectorStore")(VectorStore.search(spark, indexDir, queries.head, K))(
        df => maybeReverse(a, df.collect().toSeq)) { rows =>
        checkRanked(rows, mmr = false)
        check(rows.headOption.exists(_.getAs[Long]("doc_id") == newest),
          s"rank 1 is ${rows.headOption.map(_.getAs[Long]("doc_id"))}, not the newest message $newest")
        Map("rows" -> rows.size, "recall_at_10" -> recall(store, qraw(0), hits(rows)))
      }
      // the other routes and every batch twin feed only per-layer figures:
      // traced runs alone pay for them
      if (a.trace) routes.zipWithIndex.foreach { case (r, j) =>
        rec.op("read", r.name, "VectorStore")(r.single(spark, indexDir, queries(j + 1)))(
          df => maybeReverse(a, df.collect().toSeq)) { rows =>
          checkRanked(rows, r.mmr)
          Map("rows" -> rows.size, "recall_at_10" -> recall(store, qraw(j + 1), hits(rows)))
        }
      }
      val twins = Route("search", false, VectorStore.search(_, _, _, K),
        VectorStore.searchBatch(_, _, _, K)) +: routes
      if (a.trace) twins.foreach { case Route(name, mmr, _, batch) =>
        val block = queries.indices.drop(1).take(8)
        rec.op("batch_read", name, "VectorStore")(batch(spark, indexDir, block.map(queries)))(
          df => df.collect().toSeq) { rows =>
          val byQ = rows.groupBy(_.getAs[Number]("query_id").intValue)
          check(byQ.keySet.subsetOf(block.indices.toSet), s"query ids ${byQ.keySet}")
          byQ.values.foreach(g =>
            checkRanked(maybeReverse(a, g.sortBy(_.getAs[Number]("rank").intValue)), mmr))
          // a query with no rows scores 0
          val rc = byQ.map { case (q, g) => recall(store, qraw(block(q)), hits(g)) }
          Map("rows" -> rows.size, "queries" -> block.size, "recall_at_10" -> rc.sum / block.size)
        }
      }
    }
  }

  /** Planted fault for the self-test: one index data file copied under a
    * new name, so its chunk rows appear twice. */
  private def plantDuplicate(indexDir: String): Unit = {
    val f = java.nio.file.Files.walk(java.nio.file.Paths.get(indexDir))
    try {
      import scala.jdk.CollectionConverters._
      val p = f.iterator.asScala.find(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("/_") && p.getFileName.toString.startsWith("part-")).get
      java.nio.file.Files.copy(p, p.resolveSibling("part-dup-" + p.getFileName))
    } finally f.close()
  }

  // ----------------------------------------------------------- registry_sweep

  /** The registry keys the sweep times, one per operator module: the first
    * in sorted order, except that Dedup's first (dedup_clusters) has a
    * recursive DuckDB oracle that takes longer than the whole timed pass,
    * so the next one stands in. All 194 keys take minutes on four cores and
    * do not fit one run. */
  private val registryModules: Seq[(String, String)] = Seq(
    "q1_pricing" -> "Analytics", "q_asof_forward" -> "AnalyticsExt",
    "q_bloom_native" -> "Sketches", "kb_blocks" -> "Knowledge",
    "text_adaptive_filter" -> "TextAnalysis", "dedup_containment" -> "Dedup",
    "ann_brute" -> "Similarity", "mm_audio_fp" -> "Multimodal")
  def registryKeys: Seq[String] = registryModules.map(_._1)

  private def materialize(spark: SparkSession, key: String, dir: String,
      rec: Recorder, fault: Boolean): Unit = {
    spark.catalog.clearCache()
    val fn = SparkEntry.queries(key)
    rec.op("registry", key, registryModules.toMap.apply(key))(fn(spark, dir)) { df =>
      val obs = new Observation(s"rows_$key")
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      obs.get("n").asInstanceOf[Long] + (if (fault) 1L else 0L)
    } { rows => Map("rows" -> rows) }
  }

  def registrySweep(spark: SparkSession, a: Args, rec: Recorder): Unit = {
    val keys = registryKeys
    val sf = s"${a.data}/sf"
    rec.extra("keys") = keys
    // run.py counts each key's DuckDB oracle rows over the same tables
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/oracle_sql.json"),
      Json.render(keys.map(k => k -> SparkEntry.oracleSql(k)).toMap))
    // set-up: two keys over a tiny corpus (not recorded as ops) start Spark
    // and the JIT; every timed key still pays its own first-use compile, as
    // it does in any fresh process
    val warm = new Recorder(spark, a.copy(trace = false))
    for (rep <- 0 until a.reps) rec.setupRep(rep) {
      keys.take(2).foreach(k => materialize(spark, k, s"${a.data}/warm", warm, fault = false))
    }
    warm.ops.filter(_.err.nonEmpty).foreach(o =>
      throw new IllegalStateException(s"warm-up key ${o.name} failed: ${o.err.get}"))
    loop(a) { pass =>
      keys.zipWithIndex.foreach { case (k, i) => materialize(spark, k, sf, rec,
        fault = a.fault == "registry_rows" && pass == 0 && i == 0)
      }
    }
  }
}
