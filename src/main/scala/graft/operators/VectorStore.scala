package graft.operators

import graft.functions.{Hashing, Text}
import graft.sources.{LocalFrames, ParquetFooters}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.{FileStatus, Path}

import scala.jdk.CollectionConverters._

/** Spark-native vector store — the engine-side analog of the reference's
  * VectorDatabase interface (VectorDatabase/VectorDatabase.py:13-33:
  * create_schema / ingest_documents / search).
  *
  * The "index" is a parquet dataset partitioned by LSH bucket: ingest
  * chunks each document (TextProcessor.chunk_text semantics), embeds every
  * chunk with the deterministic hashing embedder, assigns a sign-LSH
  * bucket, and writes partitioned by bucket. Search embeds the query,
  * multi-probes its bucket's Hamming-1 neighborhood, and exact-ranks by
  * inner product inside the probed partitions only — at 100 TB the bucket
  * is the partition-pruning key, so a query touches ~(bits+1)/2^bits of
  * the index files.
  */
object VectorStore {

  val Dim = 32
  val Planes = 8

  // PQ sidecar geometry (B7/B8 machinery): Dim-long raw weights split
  // into PqM subspaces of PqSubDim, each coded to the nearest of PqK
  // sampled centroids — 4 small ints per chunk instead of 32 longs.
  val PqM = 4
  val PqSubDim: Int = Dim / PqM
  val PqK = 16
  private val PqDir = "_graft_pq"

  // Learned-cell IVF geometry: KmCells k-means cells trained at store
  // creation (one Lloyd round, B12's exact-int64 math), frozen in a
  // sidecar like the PQ codebook. `cell` is the second partition level
  // (bucket=…/cell=…), so a cell-probed search prunes whole directories.
  val KmCells = 8
  private val CellsDir = "_graft_cells"

  // Residual-PQ sidecar geometry (r10, the store-side B24): codes are cut
  // from the chunk's RESIDUAL against its frozen cell centroid, not the
  // raw weights — residual energy is a fraction of raw energy, so the
  // same PqK centroids quantize it better (what FAISS IVFPQ ships). The
  // exactness discipline differs from B24's per-cell n-scaling: residuals
  // land on ONE shared fixed-point scale, r = raw·2^16 − floor(S·2^16/n)
  // (the floor computed overflow-safely as (S div n)·2^16 + ((S mod n)·
  // 2^16 div n)), so residuals from DIFFERENT cells are directly
  // comparable and one GLOBAL codebook serves every cell — no empty-cell
  // codebook gap, no per-candidate normalizing division at read time.
  private val ResScale = 1L << 16
  private val ResCbFile = "rescb.parquet"

  /** floor(S_d·2^16 / n) per dim, computed DRIVER-side over the K-row
    * centroid sidecar (the searchCells bounded-collect discipline) with
    * exact Long arithmetic — the overflow-safe two-term form keeps
    * S·2^16 from wrapping at web-scale member counts. */
  private def cmeanScaled(csum: Seq[Long], n: Long): Seq[Long] =
    csum.map(s => s / n * ResScale + s % n * ResScale / n)

  /** Scaled residual r = raw·2^16 − cmean, elementwise — pure codegen
    * column math once the cell's scaled mean is attached. */
  private def scaledResidual(raw: Column, cmean: Column): Column =
    zip_with(raw, cmean, (x, c) => x * ResScale - c)

  /** Per-subspace views of a raw int64 vector: array of PqM slices. */
  private def subvecs(v: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)),
      m => slice(v, m * lit(PqSubDim) + 1, lit(PqSubDim)))

  /** B22 for the store: OPQ-style energy-balancing permutation ahead of
    * the PQ subspace split, trained on the CREATION batch (per-dim exact
    * int64 energy n·Σx²−(Σx)², snake deal — the Similarity.vecOpq rule)
    * and frozen in a `_graft_pq/perm.parquet` sidecar exactly like the
    * codebook: appends reuse it, because codes cut along two different
    * permutations don't compare. Permutations preserve dot products, so
    * the exact re-rank tail of [[searchCompressed]] is untouched — only
    * the ADC approximation sees the balanced subspaces. */
  private val PermFile = "perm.parquet"

  private def readPerm(spark: SparkSession, indexDir: String): Seq[Int] =
    ParquetFooters.rows(spark, s"$indexDir/$PqDir/$PermFile")
      .map(g => (g.getInteger("p", 0), g.getInteger("src", 0)))
      .sortBy(_._1).map(_._2)

  /** The frozen K-row cell summary (cell, Σ raw, members), read on the
    * driver — every cell-probed read and every append uses this one
    * reader; no Spark job. */
  private[graft] def readCells(spark: SparkSession, indexDir: String)
      : Array[(Int, Array[Long], Long)] =
    ParquetFooters.rows(spark, s"$indexDir/$CellsDir/centroids.parquet")
      .map(g => (g.getInteger("cell", 0), ParquetFooters.longs(g, "csum"),
        g.getLong("n", 0))).toArray

  /** A frozen (j, m, cent) codebook sidecar, read on the driver. */
  private def readCodebook(spark: SparkSession, path: String)
      : Quantizers.Codebook =
    ParquetFooters.rows(spark, path).map(g => (g.getInteger("j", 0),
      g.getInteger("m", 0), ParquetFooters.longs(g, "cent")))

  /** Raw int64 hashing-trick weights of a chunk — one pass of the fused
    * graft_hash_embed kernel (the O(dim·tokens) per-slot filter/aggregate
    * HOF chain it replaced was the store's dominant ingest cost). */
  private def rawWeights(text: Column): Column =
    call_function("graft_hash_embed", text, lit(Dim))

  /** L2-normalized double embedding from the raw weights (Σw² exact). */
  private[operators] def embedFromRaw(raw: Column): Column = {
    val ss = call_function("graft_dot_l", raw, raw)
    when(ss > 0,
      transform(raw, x => x.cast("double") / sqrt(ss.cast("double"))))
      .otherwise(transform(raw, x => x.cast("double")))
  }

  /** Bucket from the RAW weights: sign(dot(w, plane)) = sign(dot(w/‖w‖,
    * plane)), so the un-normalized int64 dots (exact, codegen'd, fused
    * single-table graft_lsh_buckets pass — md5 "0_p_d" plane seeds) give
    * the bucket with no float arithmetic at all. */
  private def bucketOf(raw: Column): Column =
    element_at(call_function("graft_lsh_buckets", raw, lit(1), lit(Planes)), 1)

  /** The store format this code writes and reads: every frozen artifact
    * (OPQ perm, PQ codebook, cells, residual codebook) and every encoded
    * column (codes, rcodes, scodes/sscale, pcodes) and the lexical
    * sidecar with positions exist whenever the store does. Creation (an
    * overwrite ingest, an append into a missing or empty dir, retrain
    * staging) writes it last as the `_graft_store.json` marker — a `_`
    * name, so Spark's file index and [[ParquetFooters.files]] skip it. */
  private val FormatVersion = 1
  private val FormatFile = "_graft_store.json"

  private def fsOf(spark: SparkSession) = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** The format gate every operation on an existing store runs before any
    * Spark work: a store without the marker, or with another version, is
    * refused with one message. An overwrite ingest re-creates it. */
  private[graft] def requireFormat(spark: SparkSession, indexDir: String): Unit = {
    val fs = fsOf(spark)
    val marker = new org.apache.hadoop.fs.Path(s"$indexDir/$FormatFile")
    val found = if (!fs.exists(marker)) "none (no format marker)" else {
      val json = readText(fs, marker)
      """"format":(\d+)""".r.findFirstMatchIn(json).fold(json)(_.group(1))
    }
    require(found == FormatVersion.toString,
      s"store $indexDir has format version $found, but this code reads " +
        s"format $FormatVersion only: re-ingest it with mode=overwrite")
  }

  /** The index frame of an existing store, after [[requireFormat]]. */
  private[graft] def open(spark: SparkSession, indexDir: String): DataFrame = {
    requireFormat(spark, indexDir)
    readIndex(spark, indexDir)
  }

  /** The index frame at `indexDir`, with no schema-inference or listing
    * job: the data files are listed on the driver
    * ([[ParquetFooters.statuses]]) and scanned over that listing
    * ([[ParquetFooters.scan]]), and the schema is the one a data file's
    * footer records, plus the `bucket` and `cell` partition columns.
    * `only` scans just those data files (statuses a caller already
    * holds). A store with no data file — every row deleted — reads as the
    * empty frame of [[storeRows]]'s layout, so its reads return no rows.
    * Every index read goes through here. */
  private[operators] def readIndex(spark: SparkSession, indexDir: String,
      only: Option[Seq[FileStatus]] = None): DataFrame = {
    val files = only.getOrElse(ParquetFooters.statuses(spark, indexDir).toVector)
    files.headOption.fold(emptyIndex(spark)) { first =>
      ParquetFooters.scan(spark, indexDir, files, StructType(
        ParquetFooters.sparkSchema(spark, first.getPath).fields ++ Seq(
          StructField("bucket", IntegerType), StructField("cell", IntegerType))))
    }
  }

  /** [[storeRows]]'s layout with no rows, partition columns last as a
    * scan reads them (no meta: a store with no data file records none). */
  private def emptyIndex(spark: SparkSession): DataFrame = {
    val none = java.util.Collections.emptyList[Row]()
    val chunks = spark.createDataFrame(none, StructType(Seq(
      StructField("doc_id", LongType), StructField("chunk_ix", IntegerType),
      StructField("chunk", StringType))))
    val layout = storeRows(embed(chunks), Frozen(0 until Dim, Nil, Array.empty,
      Nil), meta = false, lit(0L)).schema.fields
    val (parts, data) = layout.partition(f => Set("bucket", "cell")(f.name))
    spark.createDataFrame(none,
      ParquetFooters.nullable(StructType(data ++ parts)).asInstanceOf[StructType])
  }

  /** Does `indexDir` hold anything? An append into a missing or empty dir
    * creates the store; into anything else it needs [[requireFormat]]. */
  private[graft] def occupied(spark: SparkSession, indexDir: String): Boolean = {
    val fs = fsOf(spark)
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    fs.exists(dir) && fs.listStatus(dir).nonEmpty
  }

  /** Commit `json` at `fin` atomically: write a `.tmp` sibling, then
    * rename it into place, so no reader sees a torn file; a failed rename
    * fails the operation. Every manifest and the format marker commit
    * here. */
  private[operators] def commitJson(fs: org.apache.hadoop.fs.FileSystem,
      fin: org.apache.hadoop.fs.Path, json: String): org.apache.hadoop.fs.Path = {
    val tmp = new org.apache.hadoop.fs.Path(fin.getParent,
      fin.getName.stripSuffix(".json") + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, fin), s"commit failed: $tmp -> $fin")
    fin
  }

  /** Ingest: documents(doc_id, text, …) → chunk → embed → bucket →
    * parquet index partitioned by bucket. `mode` "append" adds an
    * incremental batch to an existing index. Returns the batch's chunk
    * count (an empty batch writes nothing and returns 0).
    *
    * `batchTag` (r9): the store's TIME AXIS — every row of this batch is
    * stamped with it (an epoch, a CDC sequence number, an ingest round),
    * and a G34 zone-map sidecar on the tag is maintained INCREMENTALLY
    * after each write ([[graft.sources.ZoneMaps.appendSidecar]] — only
    * the batch's own files are scanned). Files written by one batch
    * carry one constant tag, so their zones are single points and a
    * time-windowed serving read ([[searchTagRange]]) prunes to exactly
    * the matching batches' files before any bucket probe runs. */
  def ingest(docs: DataFrame, indexDir: String,
      chunkSize: Int = 20, overlap: Int = 5, mode: String = "overwrite",
      batchTag: Long = 0L, cells: Int = KmCells): Long = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    // Filtered serving (r16, the Weaviate `where` parity): a `meta`
    // column on the docs batch (map<string,string> by convention) rides
    // every chunk row into the index, so serving reads can fold a
    // predicate BELOW their shortlists (B21's pre-filter discipline).
    ingestChunks(chunksOf(docs, chunkSize, overlap), indexDir, mode,
      lit(batchTag), cells)
  }

  /** docs(doc_id, text[, meta]) → (doc_id[, meta], chunk_ix, chunk), one
    * row per chunk (TextProcessor.chunk_text semantics, chunk_ix from 1). */
  private def chunksOf(docs: DataFrame, chunkSize: Int,
      overlap: Int): DataFrame = {
    val metaIn: Seq[Column] =
      if (docs.columns.contains("meta")) Seq(col("meta")) else Nil
    docs
      .select((Seq(col("doc_id")) ++ metaIn ++ Seq(
        posexplode(Text.chunks(col("text"), chunkSize, overlap)))): _*)
      .select((Seq(col("doc_id")) ++ metaIn ++ Seq(
        (col("pos") + 1).as("chunk_ix"), col("col").as("chunk"))): _*)
  }

  /** The learned artifacts every encoded column is cut against, as driver
    * values: OPQ permutation, PQ codebook, cell summary, residual
    * codebook. */
  private final case class Frozen(perm: Seq[Int],
      codebook: Quantizers.Codebook,
      centroids: Array[(Int, Array[Long], Long)],
      rescb: Quantizers.Codebook)

  /** A store's frozen artifacts, read on the driver (no Spark job). */
  private def readFrozen(spark: SparkSession, indexDir: String): Frozen =
    Frozen(readPerm(spark, indexDir),
      readCodebook(spark, s"$indexDir/$PqDir/codebook.parquet"),
      readCells(spark, indexDir),
      readCodebook(spark, s"$indexDir/$PqDir/$ResCbFile"))

  /** Each chunk row's raw int64 weights, LSH bucket and embedding. */
  private def embed(chunks: DataFrame): DataFrame = chunks
    .withColumn("raw", rawWeights(col("chunk")))
    .withColumn("bucket", bucketOf(col("raw")))
    .withColumn("embedding", embedFromRaw(col("raw")))

  /** The scaled residual of a celled row's raw weights against its cell's
    * frozen mean (scaled means computed driver-side from the K-row
    * summary). */
  private def residual(centroids: Array[(Int, Array[Long], Long)]): Column =
    scaledResidual(col("raw"), element_at(typedLit(centroids
      .map { case (c, csum, m) => c -> cmeanScaled(csum.toSeq, m) }.toMap),
      col("cell")))

  /** The store's row layout, stated once: an [[embed]]ded chunk frame →
    * every stored column, in the written order, as one row-local
    * projection over the driver-literal artifacts `f` (cell, PQ codes of
    * the permuted raw weights, residual codes, `batchTag`, SQ8 and RP
    * codes). `meta` keeps the input's `meta` column; any other input
    * column (retrain's `orig_tag`) is not written. Every index write
    * encodes through here, and a store with no data file reads as its
    * empty frame ([[readIndex]]). */
  private def storeRows(embedded: DataFrame, f: Frozen, meta: Boolean,
      batchTag: Column): DataFrame = {
    val celled = embedded.withColumn("cell",
        Quantizers.nearestCell(col("raw"), f.centroids))
      .withColumn("praw", Quantizers.permute(col("raw"), f.perm))
      .withColumn("rres", residual(f.centroids))
    rpCols(sq8Cols(celled.select((Seq(col("doc_id"), col("chunk_ix")) ++
      (if (meta) Seq(col("meta")) else Nil) ++
      Seq(col("chunk"), col("raw"), col("bucket"), col("embedding"),
        col("cell"), pqCodes(col("praw"), f.codebook).as("codes"),
        pqCodes(col("rres"), f.rescb).as("rcodes"),
        batchTag.as("batch_tag"))): _*)))
  }

  /** The meta rule of a batch with `columns` (meta is optional per
    * store): a store's creation keeps the batch's meta; a meta-carrying
    * store REFUSES a meta-less batch (filtered reads would silently drop
    * the new rows — worse than failing loudly); a meta-less store drops
    * the batch's meta (backfilling only the new rows would serve a
    * partial filter) and filtered reads refuse until re-ingest. The
    * stored field names come from one data file's footer (a store with no
    * data file has no rows to disagree with). Returns whether `meta` is
    * written. */
  private def keepsMeta(spark: SparkSession, indexDir: String,
      columns: Seq[String], reuse: Boolean): Boolean = {
    val hasMeta = columns.contains("meta")
    if (!reuse) hasMeta else {
      val stored = ParquetFooters.fieldNames(spark, indexDir)
        .getOrElse(columns.toSet)
      require(!stored.contains("meta") || hasMeta,
        s"store $indexDir carries a `meta` column: append batches must " +
          "carry `meta` too, or filtered reads would silently drop them")
      hasMeta && stored.contains("meta")
    }
  }

  /** Every learned artifact of a new store, trained on its creation
    * batch (`embedded`, cached) and collected to the driver. The OPQ
    * permutation freezes first: the codebook's subspaces are cut from the
    * permuted layout. Then one exact Lloyd round each
    * ([[Quantizers.lloyd]]) trains the PQ codebook, the `cells` k-means
    * cells and the residual codebook, each seeded with the batch's first
    * chunks by (doc_id, chunk_ix) — the k-means|| seeding step. Cell
    * count is a creation-time knob: it should scale with the corpus, and
    * every serving path reads the frozen K-row sidecar, so any K serves.
    * The residual codebook trains on the scaled residuals against the
    * trained cells. */
  private def train(embedded: DataFrame, cells: Int): Frozen = {
    def first(df: DataFrame, v: Column, n: Int): Seq[Array[Long]] =
      df.orderBy("doc_id", "chunk_ix").limit(n).select(v).collect().toSeq
        .map(_.getSeq[Long](0).toArray)
    def seeds(vs: Seq[Array[Long]], m: Int, sub: Int): Quantizers.Codebook =
      Quantizers.seeds(vs.zipWithIndex.map(_.swap), m, sub)
    val perm = Quantizers.snakeDeal(
      Quantizers.energies(embedded, col("raw"))(0), PqM, PqSubDim)
    val raws = first(embedded, col("raw"), math.max(PqK, cells))
    val permuted = Quantizers.permute(col("raw"), perm)
    val codebook = Quantizers.means(Quantizers.lloyd(embedded, permuted,
      seeds(raws.take(PqK).map(r => perm.map(r(_)).toArray), PqM, PqSubDim),
      PqM, PqSubDim))
    val centroids = Quantizers.lloyd(embedded, col("raw"),
        seeds(raws.take(cells), 1, Dim), 1, Dim)
      .map { case (cell, _, csum, n) => (cell, csum, n) }.toArray
    val withRes = embedded.withColumn("cell",
      Quantizers.nearestCell(col("raw"), centroids))
    val rres = residual(centroids)
    val rescb = Quantizers.means(Quantizers.lloyd(withRes, rres,
      seeds(first(withRes, rres, PqK), PqM, PqSubDim), PqM, PqSubDim))
    Frozen(perm, codebook, centroids, rescb)
  }

  /** A new store's frozen artifacts as its sidecars: PQ codebook, OPQ
    * permutation, cell summary, residual codebook — one file each, each
    * a driver-local frame written on the driver ([[ParquetFooters.write]],
    * no Spark job). */
  private def writeFrozen(spark: SparkSession, indexDir: String,
      f: Frozen): Unit = {
    import spark.implicits._
    def put(df: DataFrame, path: String): Unit = ParquetFooters.write(spark,
      s"$indexDir/$path", df.schema, LocalFrames.rows(df), overwrite = true)
    put(Quantizers.frame(spark, f.codebook), s"$PqDir/codebook.parquet")
    put(f.perm.zipWithIndex.map { case (src, p) => (p, src) }.toDF("p", "src"),
      s"$PqDir/$PermFile")
    put(f.centroids.toSeq.map { case (c, csum, n) => (c, csum.toSeq, n) }
      .toDF("cell", "csum", "n"), s"$CellsDir/centroids.parquet")
    put(Quantizers.frame(spark, f.rescb), s"$PqDir/$ResCbFile")
  }

  /** The encode-and-write core shared by [[ingest]] (which chunks docs
    * first) and [[retrainCells]] (which re-encodes the CURRENT chunk set
    * into a staging dir): trains-or-reuses every learned artifact (OPQ
    * perm, PQ codebook, k-means cells, residual codebook), encodes every
    * serving column, and writes index data + sidecars under `indexDir`.
    * `batchTagCol` is a literal for normal ingests and the preserved
    * per-row `orig_tag` column for retrain (so the time axis survives a
    * retrain); an `orig_tag` input column is dropped before the write so
    * the written schema is position-identical to a fresh creation. */
  private def ingestChunks(chunks: DataFrame, indexDir: String,
      mode: String, batchTagCol: Column, cells: Int): Long = {
    val spark = chunks.sparkSession
    // an append to an existing store reuses every frozen artifact; one
    // into a missing or empty dir creates the store like an overwrite
    val reuse = mode == "append" && occupied(spark, indexDir)
    if (reuse) requireFormat(spark, indexDir)
    // `raw` (exact int64 weights) is kept in the index: search ranks with
    // the codegen'd graft_dot_l kernel over it — the interpreted
    // aggregate/zip_with double dot it replaces was the scan-time cost of
    // every probe. `embedding` stays for float-vector consumers.
    val embedded = embed(chunks).cache()
    val n = embedded.count()
    if (n > 0) {
      // Every frozen artifact is read ONCE on the driver (parquet-hadoop,
      // no Spark job) or trained and collected once: the encode below is
      // row-local codegen over these literals, and driver values cannot
      // race the sidecar rewrites at the end of this method. Appends MUST
      // reuse them — codes from two codebooks or permutations, or cells
      // from two centroid sets, don't compare.
      val frozen = if (reuse) readFrozen(spark, indexDir) else train(embedded, cells)
      // SQ8 codes (G44, r12): per-chunk symmetric int8 quantization of
      // the exact raw weights — the serving rung between the raw-vector
      // cell scan and the PQ/residual ADC. The per-chunk scale
      // FACTORIZES out of the dot product (annSq8's B6 scheme), so the
      // rung needs NO trained artifact: every row self-scales, appends
      // and edits are consistent by construction. JL-projected codes
      // (G47, r13) likewise.
      val indexed = storeRows(embedded, frozen,
        keepsMeta(spark, indexDir, chunks.columns, reuse), batchTagCol)
      indexed.write.mode(mode).partitionBy("bucket", "cell").parquet(indexDir)
      // time-axis zone maps: incremental upkeep reads this batch's files'
      // footers only (an overwrite-mode write wiped the old sidecar with
      // the rest of the dir, so it degenerates to a fresh full build there)
      graft.sources.ZoneMaps.appendSidecar(spark, indexDir, "batch_tag")
      // lexical/BM25 sidecar (G49): postings + doclog for the hybrid
      // read — fresh at creation, generation-append on append
      VectorStoreLex.appendFor(indexDir,
        embedded.select("doc_id", "chunk_ix", "chunk"), create = !reuse)
      // the sidecars are written AFTER the index data: an overwrite-mode
      // index write wipes indexDir, sidecars included
      if (!reuse) writeFrozen(spark, indexDir, frozen)
      // the format marker commits LAST: a creation cut short leaves a
      // dir the gate refuses, never a store missing an artifact
      if (!reuse) commitJson(fsOf(spark), new org.apache.hadoop.fs.Path(
        s"$indexDir/$FormatFile"), s"""{"format":$FormatVersion}""")
    }
    embedded.unpersist()
    n
  }

  /** SQ8 columns over `raw` — B6's symmetric scheme: per-chunk scale
    * d = max(1, ⌊max_i|raw_i|/127⌋), code_i = sgn(raw_i)·⌊|raw_i|/d⌋.
    * |code| ≤ 127 by construction; the serving ADC d·Σ q_i·code_i is
    * exact int64 (|Σ| bounded by the exact dot the raw scan computes).
    * Stored as an int64 array for the codegen dot kernel. Honest disk
    * note (bench/store_sq8_r12.json): on THIS store parquet's
    * dictionary+RLE already encodes the small count-valued raw weights
    * to ~0.7 byte/dim, so the codes column lands at byte PARITY with
    * raw — the 1-byte-vs-8-byte width win is a DECODED working-set
    * property, and its on-disk counterpart needs high-entropy raw
    * vectors (the B15-style 1e8-scaled embeddings, 65 vs 512 logical
    * bytes/vector). */
  private def sq8Cols(df: DataFrame): DataFrame = {
    val m = array_max(transform(col("raw"), x => abs(x)))
    df.withColumn("sscale",
        greatest((m - pmod(m, lit(127L))) / 127L, lit(1L)).cast("long"))
      .withColumn("scodes", transform(col("raw"), x =>
        (when(x < 0, lit(-1L)).otherwise(lit(1L)) *
          ((abs(x) - pmod(abs(x), col("sscale"))) / col("sscale")))
          .cast("long")))
  }

  private val RpDims = 16

  /** md5-derived ±1 sign matrix for the store's JL projection (G47) —
    * the B27 construction seeded "srp" over the store's Dim. A LITERAL,
    * never a sidecar: like the scodes rung, appends and edits are
    * consistent by construction and splice maintenance never touches
    * it. */
  private lazy val rpSigns = Quantizers.signs("srp", RpDims, Dim)

  /** JL-projected codes over `raw` (G47): 16 signed sums of the 32 raw
    * weights — the DIM-count compression rung next to scodes' element-
    * width rung: 2× fewer multiplies and array elements per candidate
    * in the shortlist scan, exact int64 end to end (|raw| is token-count
    * sized, so the projected coordinate and the 16-dim projected dot sit
    * far inside int64). An 8-dim variant was measured and REJECTED:
    * quarter-width projections of these 32-dim count vectors drop a
    * verbatim chunk's own row out of a 50-deep shortlist — half-width
    * keeps the self-hit and the recall rung serviceable. */
  private def rpCols(df: DataFrame): DataFrame =
    df.withColumn("pcodes", Quantizers.project(col("raw"), rpSigns))

  /** Coarse cell probe (r11, metric-ALIGNED with assignment): rank cells
    * by the same rule [[Quantizers.nearestCell]] assigns with — exact int64
    * numerator ‖S‖² − 2·(q·S)·n over an IEEE n² — so the probe order IS
    * the assignment order, and a stored chunk's own cell is always its
    * own query's top-1 probe (q = the chunk's raw makes its assigned
    * cell the argmin by definition). The r10 probe ranked by dot(q,S)/n,
    * a direction-only score that could place a chunk's own cell outside
    * its top-nprobe — the self-recall caveat this alignment deletes
    * (spec-pinned for arbitrary stored chunks, not a reachable sample).
    * Driver-side over the K-row frozen sidecar, one IEEE division per
    * cell, ties to the smaller cell id. */
  private def probeCellsFor(centroids: Array[(Int, Array[Long], Long)],
      qraw: Array[Long], nprobe: Int): Seq[Int] =
    centroids.map { case (cell, csum, nMem) =>
      var ss = 0L; var dot = 0L; var i = 0
      while (i < csum.length) {
        ss += csum(i) * csum(i); dot += qraw(i) * csum(i); i += 1
      }
      // (n·n as int64, then one cast — bit-identical to the
      // LongVecOps.nearestCell denominator that assigns cells)
      ((ss - 2L * dot * nMem).toDouble / (nMem * nMem).toDouble, cell)
    }.sortBy { case (s, cell) => (s, cell) }.take(nprobe).map(_._2).toSeq

  /** PQ codes of a vector against a frozen codebook (the store's
    * geometry): the raw-layout codes (vector = the permuted raw weights)
    * and the residual codes (vector = the scaled residual, identity
    * layout: the OPQ permutation serves the raw-layout ADC path;
    * residuals are already centered, and keeping the two sidecar families
    * orthogonal keeps append reuse rules independent). */
  private def pqCodes(vec: Column, codebook: Quantizers.Codebook): Column =
    Quantizers.encode(vec, codebook, PqM, PqSubDim)

  // ------------------------------------------------------------ read core
  //
  // Every read route composes one core: [[queryFrame]] → a candidate
  // route ([[bucketCands]] or [[cellRoute]]) → an optional approximate
  // shortlist ([[shortlist]], keyed by the route's own score: PQ-ADC,
  // residual-ADC, SQ8, RP or truncated) and its exact re-rank
  // ([[rerank]]) → [[topK]] by exact cosine. A single-query read is the
  // batch read of one query with `one = true`, which changes only how
  // [[best]] plans its rankings.

  /** (query_id, qraw): each query text's raw int64 weights, ids 0, 1, …
    * in input order. */
  private def queryFrame(spark: SparkSession, queries: Seq[String]): DataFrame = {
    import spark.implicits._
    queries.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "qtext")
      .select(col("query_id"), rawWeights(col("qtext")).as("qraw"))
  }

  /** Exact cosine of two int64 vectors: integer dot and norms through
    * the codegen'd graft_dot_l kernel, one IEEE division, 0 when either
    * vector is zero. The one scoring expression of every read, of the
    * graph edges and of the MMR redundancy term. */
  private def cosine(a: Column, b: Column): Column = {
    val ssA = call_function("graft_dot_l", a, a)
    val ssB = call_function("graft_dot_l", b, b)
    when(ssA > 0 && ssB > 0, call_function("graft_dot_l", a, b).cast("double") /
        (sqrt(ssA.cast("double")) * sqrt(ssB.cast("double"))))
      .otherwise(lit(0.0d))
  }

  /** The LSH multiprobe: each query paired with its bucket and that
    * bucket's Hamming-1 neighbours (9 distinct values), carrying qraw —
    * built on the driver from the folded query frame, so its broadcast
    * is a local relation and runs no job. */
  private def bucketProbes(qf: DataFrame): DataFrame = {
    val probes = LocalFrames.rows(qf.withColumn("qbucket", bucketOf(col("qraw"))))
      .flatMap { r =>
        val b = r.getInt(qf.columns.length)
        (b +: (0 until Planes).map(p => b ^ (1 << p)))
          .map(x => Row.fromSeq(r.toSeq.init :+ x))
      }
    qf.sparkSession.createDataFrame(probes.asJava, StructType(qf.schema.fields :+
      StructField("bucket", IntegerType, nullable = false)))
  }

  /** The cells a cell read probes, chosen on the driver: each query
    * frame row with its top-`nprobe` cells by the assignment rule
    * ([[probeCellsFor]]) over the frozen K-row summary. */
  private def cellProbes(qf: DataFrame, nprobe: Int,
      centroids: Array[(Int, Array[Long], Long)]): Seq[(Row, Seq[Int])] = {
    val qraw = qf.schema.fieldIndex("qraw")
    LocalFrames.rows(qf).map(r =>
      r -> probeCellsFor(centroids, r.getSeq[Long](qraw).toArray, nprobe))
  }

  /** Bucket route: every probed index row paired with each query that
    * probed its bucket, carrying qraw. The pruning is at the parquet
    * partition level (`bucket` is the first partition column). Each
    * scanned row takes its bucket's queries from a driver literal of the
    * folded probes: a broadcast, even of a local relation, collects its
    * side in a job of its own. */
  private def bucketCands(index: DataFrame, qf: DataFrame): DataFrame = {
    val byBucket = LocalFrames.rows(bucketProbes(qf)).groupBy(_.getAs[Int]("bucket"))
      .map { case (b, ps) =>
        b -> ps.map(p => (p.getAs[Long]("query_id"), p.getAs[Seq[Long]]("qraw"))) }
    index.filter(col("bucket").isInCollection(byBucket.keys.toSeq))
      .withColumn("q", explode(element_at(typedLit(byBucket), col("bucket"))))
      .select((col("bucket") +: index.columns.filterNot(_ == "bucket").map(col)) ++
        Seq(col("q._1").as("query_id"), col("q._2").as("qraw")): _*)
  }

  /** A cell route: `region` is the union of the probed cells' rows,
    * `probes` the (cell, query frame row) pairs, `centroids` the frozen
    * K-row summary they were chosen from; `cands` pairs every region row
    * with each query that probed its cell. */
  private final case class CellProbe(region: DataFrame, probes: DataFrame,
      centroids: Array[(Int, Array[Long], Long)]) {
    def cands: DataFrame = region.join(broadcast(probes), "cell")
  }

  /** Cell route: the union of the probed cells' directories (a literal
    * list, so the pruning is static), `pred` folded in below every
    * ranking (the filtered read's pre-filter bar), and one broadcast
    * (cell, query frame row) relation pairing each row with the queries
    * that probed its cell. */
  private def cellRoute(spark: SparkSession, indexDir: String, qf: DataFrame,
      nprobe: Int, pred: Option[Column] = None): CellProbe = {
    requireFormat(spark, indexDir)
    val centroids = readCells(spark, indexDir)
    val pairs = cellProbes(qf, nprobe, centroids).flatMap {
      case (q, cells) => cells.map(c => Row.fromSeq(c +: q.toSeq))
    }
    val probes = spark.createDataFrame(pairs.asJava,
      StructType(StructField("cell", IntegerType, nullable = false) +:
        qf.schema.fields))
    val scanned = readIndex(spark, indexDir)
      .filter(col("cell").isInCollection(pairs.map(_.getInt(0)).distinct))
    CellProbe(pred.fold(scanned)(scanned.filter), probes, centroids)
  }

  /** Each candidate with its exact cosine to its query; `withRaw` keeps
    * the raw vector for the MMR reads. */
  private def scored(cands: DataFrame, withRaw: Boolean = false): DataFrame =
    cands.select((Seq(col("query_id"), col("doc_id"), col("chunk_ix"),
      col("chunk")) ++ (if (withRaw) Seq(col("raw")) else Nil) :+
      cosine(col("raw"), col("qraw")).as("score")): _*)

  /** Each query's `n` best rows by `key`, ties broken by `ties`, numbered
    * 1..n in `rank`. One query plans as orderBy+limit — a
    * TakeOrderedAndProject: per-partition heaps, one merge into a single
    * partition emitted in sort order, so the ≤ n survivors are numbered
    * in that order with no window. A batch ranks in a window partitioned
    * by query_id, so queries rank in parallel and no partition has to
    * hold every query's candidates. */
  private def best(df: DataFrame, n: Int, one: Boolean, key: Column,
      ties: Seq[Column] = Seq(col("doc_id"), col("chunk_ix"))): DataFrame =
    if (one)
      df.orderBy(key +: ties: _*).limit(n)
        .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
    else
      df.withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(key +: ties: _*)))
        .filter(col("rank") <= n)

  /** The output of every read: each query's top-k candidates by exact
    * cosine, as (query_id, rank, doc_id, chunk_ix, chunk, score) in
    * (query_id, rank) order. */
  private def topK(cands: DataFrame, k: Int, one: Boolean): DataFrame =
    best(scored(cands), k, one, col("score").desc)
      .select("query_id", "rank", "doc_id", "chunk_ix", "chunk", "score")
      .orderBy("query_id", "rank")

  /** Shortlist stage: each query's `n` best candidate keys by a route's
    * approximate score `key`. */
  private def shortlist(approx: DataFrame, n: Int, one: Boolean,
      key: Column): DataFrame =
    best(approx, n, one, key).select("query_id", "doc_id", "chunk_ix")

  /** Exact re-rank of a shortlist (the B9 tail): the survivors' raw
    * vectors and text, fetched from the route's own candidates (the
    * probed partitions only, qraw attached), then [[topK]]. */
  private def rerank(cands: DataFrame, short: DataFrame, k: Int,
      one: Boolean): DataFrame =
    topK(cands.join(broadcast(short), Seq("query_id", "doc_id", "chunk_ix")),
      k, one)

  /** A frozen (j, m, cent) codebook sidecar as a local relation. */
  private def codebookFrame(spark: SparkSession, path: String): DataFrame =
    Quantizers.frame(spark, readCodebook(spark, path))

  /** Search: top-k chunks for a free-text query, probing the query's LSH
    * bucket and its Hamming-1 neighbors. Bucket pruning happens at the
    * parquet partition level (`bucket IN (…)` on the partition column).
    * Cosine ranking runs on the stored int64 weights through the
    * graft_dot_l codegen kernel — exact integer dot, two norms, one IEEE
    * division per candidate — instead of an interpreted per-element
    * double fold (higher-order functions are CodegenFallback). Top-k is
    * a TakeOrderedAndProject, never a global-window rank. */
  def search(spark: SparkSession, indexDir: String, query: String, k: Int = 5)
      : DataFrame =
    searchInBatch(spark, open(spark, indexDir), Seq(query), k, one = true)
      .drop("query_id")

  /** Time-windowed serving read (r9): [[search]] restricted to ingest
    * batches whose `batch_tag` lies in [lo, hi]. The file list comes
    * from the G34 sidecar the ingest maintains ([[ingest]]'s `batchTag`)
    * — an O(files) pruning decision with no data read — so a "recent
    * batches only" query at 100 TB opens exactly the matching batches'
    * files, and the LSH bucket probe prunes further within them. The
    * batch_tag row filter keeps exactness. */
  def searchTagRange(spark: SparkSession, indexDir: String, query: String,
      lo: Long, hi: Long, k: Int = 5): DataFrame =
    searchInBatch(spark, tagRange(spark, indexDir, lo, hi), Seq(query), k,
      one = true).drop("query_id")

  /** Batch serving path: rank MANY queries through one plan. Each query
    * probes its own LSH buckets; candidates carry their `query_id`, so
    * the top-k window partitions BY QUERY — a thousand-query batch ranks
    * in parallel instead of funneling every query's candidates into the
    * single partition an unpartitioned window would force. Output schema
    * = [[search]] plus a leading `query_id`. */
  def searchBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5): DataFrame =
    searchInBatch(spark, open(spark, indexDir), queries, k)

  /** Batch twin of [[searchTagRange]] (the G23/G26 pattern): many
    * queries against one time window, one zone-map-pruned plan. */
  def searchTagRangeBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], lo: Long, hi: Long, k: Int = 5): DataFrame =
    searchInBatch(spark, tagRange(spark, indexDir, lo, hi), queries, k)

  /** The index rows of the batches tagged in [lo, hi]: the kept files
    * come from the zone-map sidecar, and they open like every other index
    * read ([[readIndex]]) — no listing or inference job, and a range
    * that keeps no file reads as empty. */
  private def tagRange(spark: SparkSession, indexDir: String, lo: Long,
      hi: Long): DataFrame = {
    requireFormat(spark, indexDir)
    val (files, _) = graft.sources.ZoneMaps.planFiles(spark, indexDir, lo, hi)
    val fs = fsOf(spark)
    readIndex(spark, indexDir, Some(files.map(f => fs.getFileStatus(new Path(f)))))
      .filter(col("batch_tag").between(lo, hi))
  }

  /** The exact bucket-probed read over an index frame — which may be
    * pre-filtered (the hybrid read's dense leg). */
  private[operators] def searchInBatch(spark: SparkSession, index: DataFrame,
      queries: Seq[String], k: Int, one: Boolean = false): DataFrame =
    topK(bucketCands(index, queryFrame(spark, queries)), k, one)

  /** Diversity-aware serving path: MMR (maximal marginal relevance,
    * Carbonell & Goldstein 1998) re-ranking over a relevance shortlist —
    * the standard RAG retrieval step plain top-k lacks: near-duplicate
    * chunks crowd out coverage, so each pick maximizes
    * λ·rel(q,c) − (1−λ)·max sim(c, selected). The shortlist is
    * [[search]]'s scored candidates (distributed: bucket-pruned scan +
    * TakeOrderedAndProject) with their raw vectors kept, so no second
    * index pass; the greedy selection runs on the driver over the
    * ≤`shortlist` collected candidates — MMR is inherently sequential
    * (each pick depends on the previous picks), and a k×shortlist greedy
    * over a bounded set is exactly the industrial shape: distribute the
    * scan, finish the tiny sequential tail locally (same reasoning as
    * C6's gated union-find finish). All similarities are exact int64
    * dots of the stored quantized weights with IEEE division at the end;
    * deterministic ties (score desc, doc_id, chunk_ix), so the result is
    * reproducible run-to-run. The greedy is [[mmrGreedy]], shared with
    * [[searchDiverseBatch]]. */
  def searchDiverse(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5, shortlist: Int = 50, lambdaRel: Double = 0.7): DataFrame = {
    import spark.implicits._
    val cands = bucketCands(open(spark, indexDir), queryFrame(spark, Seq(query)))
    val rows = best(scored(cands, withRaw = true), shortlist, one = true,
        col("score").desc)
      .select("doc_id", "chunk_ix", "chunk", "score", "raw")
      .collect().toSeq.map(mmrCand)
    mmrGreedy(rows, k, lambdaRel).zipWithIndex
      .map { case (((d, cx, chunk, rel, _), _), i) => (i + 1, d, cx, chunk, rel) }
      .toDF("rank", "doc_id", "chunk_ix", "chunk", "score")
  }

  /** One MMR shortlist candidate: (doc_id, chunk_ix, chunk, relevance,
    * raw). */
  private[operators] type MmrCand = (Long, Int, String, Double, Array[Long])

  /** A (doc_id, chunk_ix, chunk, score, raw) row as an [[MmrCand]]. */
  private def mmrCand(r: Row): MmrCand =
    (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3),
      r.getSeq[Long](4).toArray)

  /** The MMR greedy over ONE query's shortlist: up to `k` picks, each
    * maximizing λ·rel(q,c) − (1−λ)·max cos(c, selected), ties to
    * (doc_id, chunk_ix); each pick with its objective, in pick order.
    * Cosines are exact int64 dots and norms with one IEEE division — the
    * [[cosine]] expression's arithmetic. */
  private[operators] def mmrGreedy(cands: Seq[MmrCand], k: Int,
      lambda: Double): Seq[(MmrCand, Double)] = {
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0L || nb == 0L) 0.0
      else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(MmrCand, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val (mmr, pick, ix) = remaining.zipWithIndex.map { case (c, ix) =>
        val maxSim =
          if (selected.isEmpty) 0.0 else selected.map(s => cos(c._5, s._1._5)).max
        (lambda * c._4 - (1 - lambda) * maxSim, c, ix)
      }.minBy { case (mmr, c, _) => (-mmr, c._1, c._2) }
      selected += ((pick, mmr))
      remaining.remove(ix)
    }
    selected.toSeq
  }

  /** Compressed serving path: IVF-PQ over the store (B8's machinery
    * composed onto the index). The probed LSH partitions are scanned
    * reading ONLY (ids, bucket, codes) — column pruning keeps the raw
    * vectors, embeddings and chunk text out of the ADC scan, which is
    * what makes a 100 TB store searchable: per-chunk state at scan time
    * is PqM small ints. The query builds one broadcast M×K distance
    * table; approximate distance is a per-code table-lookup sum; the
    * top-`shortlist` ADC candidates are then exact-re-ranked (B9) by
    * fetching their raw vectors from the same probed partitions. Output
    * schema matches [[search]]. */
  def searchCompressed(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5, shortlist: Int = 50): DataFrame =
    compressedRead(spark, indexDir, Seq(query), k, shortlist, one = true)
      .drop("query_id")

  /** Batch twin of [[searchCompressed]]: MANY queries through ONE IVF-PQ
    * plan. The per-query ADC distance tables are one broadcast relation
    * keyed by `query_id` (nq·M·K small rows); the codes-only scan joins
    * it by (query_id, m, code), so the approximate ranking — and the
    * exact re-rank that follows — both window BY QUERY, never funneling
    * the whole probed region into one partition. Output schema =
    * [[searchCompressed]] plus a leading `query_id`. */
  def searchCompressedBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, shortlist: Int = 50): DataFrame =
    compressedRead(spark, indexDir, queries, k, shortlist, one = false)

  private def compressedRead(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, n: Int, one: Boolean): DataFrame = {
    val qf = queryFrame(spark, queries)
    val cands = bucketCands(open(spark, indexDir), qf)
    // per-query ADC tables: exact int64 subspace distances query ↔ every
    // centroid, over the store's frozen OPQ layout, one broadcast
    // relation keyed by query_id
    val perm = readPerm(spark, indexDir)
    val dtab = qf
      .select(col("query_id"),
        posexplode(subvecs(Quantizers.permute(col("qraw"), perm))))
      .select(col("query_id"), col("pos").as("m"), col("col").as("qsub"))
      .join(broadcast(codebookFrame(spark, s"$indexDir/$PqDir/codebook.parquet")), "m")
      .select(col("query_id").as("dq"), col("m").as("dm"), col("j").as("dj"),
        call_function("graft_sqdist_l", col("qsub"), col("cent")).as("qdist"))
    val adc = cands
      .select(col("query_id"), col("doc_id"), col("chunk_ix"),
        posexplode(col("codes")))
      .select(col("query_id"), col("doc_id"), col("chunk_ix"),
        col("pos").as("m"), col("col").as("code"))
      .join(broadcast(dtab), col("query_id") === col("dq")
        && col("m") === col("dm") && col("code") === col("dj"))
      .groupBy("query_id", "doc_id", "chunk_ix")
      .agg(sum("qdist").as("adist"))
    rerank(cands, shortlist(adc, n, one, col("adist")), k, one)
  }

  /** B20 serving path: Matryoshka truncated-dimension search. The eval
    * (`vec_mrl_recall`, Similarity.scala) measures the recall-vs-cost
    * trade of scoring on a PREFIX of the vector; this serves it: the
    * probed candidates are shortlisted by exact int64 dots over the
    * first `dims` components only — per-candidate cost shrinks by
    * Dim/dims, the whole point of MRL serving — and the ≤`shortlist`
    * survivors are re-ranked at FULL width (the B9 re-rank discipline,
    * same as [[searchCompressed]]'s ADC→exact tail). `dims = Dim`
    * degenerates to the exact ranking, spec-pinned rank-for-rank equal
    * to [[search]]. Output schema = [[search]].
    *
    * Truncation basis (r10, explicit): the PREFIX OF THE STORED RAW
    * LAYOUT — i.e. the pre-permutation order. MRL semantics live in the
    * embedder's own dimension order (a Matryoshka model front-loads
    * information into the leading dims it was trained with), while the
    * G38 OPQ permutation reorders dims to balance ENERGY across PQ
    * subspaces — the two bases do not commute: a prefix of the permuted
    * layout would mix late dims in and drop early ones, destroying
    * exactly the property MRL truncation relies on. So on a store WITH a
    * perm sidecar, truncated serving deliberately ignores the
    * permutation (it applies only to the PQ/ADC coding path, where
    * subspace balance is what matters), and both contracts hold at once:
    * dims=Dim ≡ [[search]] rank-for-rank, and ADC queries keep the
    * frozen permuted subspaces. Spec-pinned against an OPQ store with a
    * verified non-identity permutation (VectorStoreSpec). */
  def searchTruncated(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5, dims: Int = 16, shortlist: Int = 50): DataFrame =
    truncatedRead(spark, indexDir, Seq(query), k, dims, shortlist, one = true)
      .drop("query_id")

  /** Batch twin of [[searchTruncated]] (the G23/G26/G31 shape): many
    * queries through ONE truncated-then-exact plan — the truncated
    * shortlist and the full-width re-rank both window BY QUERY. Output
    * schema = [[searchBatch]]. */
  def searchTruncatedBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, dims: Int = 16,
      shortlist: Int = 50): DataFrame =
    truncatedRead(spark, indexDir, queries, k, dims, shortlist, one = false)

  private def truncatedRead(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, dims: Int, n: Int,
      one: Boolean): DataFrame = {
    require(dims >= 1 && dims <= Dim, s"dims must be in [1, $Dim], got $dims")
    val cands = bucketCands(open(spark, indexDir), queryFrame(spark, queries))
    // cosine over the TRUNCATED prefixes (the score a dims-wide store
    // would compute; ranking on it is what vec_mrl_recall grades). No
    // distinct: a chunk lives in exactly one bucket partition and a
    // query's 9 probe values are pairwise distinct, so each (query,
    // chunk) scores once
    val approx = cands.select(col("query_id"), col("doc_id"),
      col("chunk_ix"), cosine(slice(col("raw"), 1, dims),
        slice(col("qraw"), 1, dims)).as("tscore"))
    rerank(cands, shortlist(approx, n, one, col("tscore").desc), k, one)
  }

  /** Learned-cell IVF serving path: probe the query's top-`nprobe`
    * k-means cells (by exact centroid score, the B5 probing rule) and
    * exact-rank ONLY inside those cells' directories — `cell` is a
    * partition column, so the pruning is directory-level, and the probe
    * list is literal (collected from the K-row sidecar), so the pruning
    * is static, not even DPP. The measured case for learned cells over
    * hash buckets is IvfCellQualitySpec: Voronoi cells concentrate true
    * neighbors, recall clears the scan fraction; random partitions
    * don't. Output schema matches [[search]]. */
  def searchCells(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5, nprobe: Int = 2): DataFrame =
    cellsRead(spark, indexDir, Seq(query), k, nprobe, None, one = true)
      .drop("query_id")

  /** Batch twin of [[searchCells]]: MANY queries through ONE cell-probed
    * plan. Probe selection stays driver-side (it is nq × K exact dots
    * against the K-row frozen centroid sidecar); the scan then reads the
    * UNION of all probed cell directories once, a broadcast
    * (query_id, cell) probe list restricts each candidate row to the
    * queries that probed its cell, and ranking windows by query. Output
    * schema = [[searchCells]] plus a leading `query_id`. */
  def searchCellsBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, nprobe: Int = 2): DataFrame =
    cellsRead(spark, indexDir, queries, k, nprobe, None, one = false)

  /** Metadata-filtered cell serving (r16 — Weaviate's `where`-filtered
    * search, the most-used store read after plain top-k; the reference's
    * schema exists precisely to filter on: Channel_Name/Message_Author/
    * Message_Date, VectorDatabase/VectorDatabase.py:46-57). `pred` is
    * any Column predicate over index columns — conventionally the
    * `meta` map ingested with the docs batch, e.g.
    * `element_at(col("meta"), "channel") === "ops"`.
    *
    * B21's PRE-filter discipline: the predicate folds into the
    * cell-probed scan BELOW the ranking — never a post-filter over an
    * unfiltered top-k, so a selective predicate still fills all k slots
    * from the probed cells' matching rows (post-filtering would
    * under-fill). Semantics: exact top-k among the probed cells' rows
    * satisfying `pred` (the recall caveat vs a full scan is the same
    * cell-probing tradeoff every cells read documents). A store written
    * before metadata existed refuses a meta-referencing predicate
    * loudly — re-ingest to upgrade (the append-can't-backfill rule). */
  def searchCellsFiltered(spark: SparkSession, indexDir: String,
      query: String, pred: Column, k: Int = 5, nprobe: Int = 2): DataFrame = {
    requireFilterable(spark, indexDir, pred)
    cellsRead(spark, indexDir, Seq(query), k, nprobe, Some(pred), one = true)
      .drop("query_id")
  }

  /** Batch twin of [[searchCellsFiltered]] (the G23/G26 pattern): many
    * queries, one filtered cell-probed plan. Rank-for-rank identical to
    * the single read per query. */
  def searchCellsFilteredBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], pred: Column, k: Int = 5, nprobe: Int = 2)
      : DataFrame = {
    requireFilterable(spark, indexDir, pred)
    cellsRead(spark, indexDir, queries, k, nprobe, Some(pred), one = false)
  }

  private def cellsRead(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, nprobe: Int, pred: Option[Column],
      one: Boolean): DataFrame =
    topK(cellRoute(spark, indexDir, queryFrame(spark, queries), nprobe,
      pred).cands, k, one)

  /** Loud gate for predicate-taking reads: every column the predicate
    * references must exist in the index schema. A store without meta (or
    * a typo'd key) fails HERE with the re-ingest message, not deep
    * inside analysis. */
  private[operators] def requireFilterable(spark: SparkSession,
      indexDir: String, pred: Column): Unit = {
    try open(spark, indexDir).filter(pred).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"store $indexDir cannot serve this predicate " +
            s"(${e.getSimpleMessage}): if it references `meta`, the store " +
            "was written before that metadata existed — re-ingest to " +
            "upgrade (an append cannot backfill `meta` for rows already " +
            "on disk)", e)
    }
    ()
  }

  /** Profile hook: the cells each query would probe (the serving reads'
    * own driver-side selection) — lets churn/skew profiles report the
    * SCAN FRACTION a probe budget costs, the quantity frozen-cell drift
    * actually degrades (a drifted append swelling one frozen cell makes
    * every probe of it scan that fraction of the corpus). */
  private[graft] def probedCells(spark: SparkSession, indexDir: String,
      queries: Seq[String], nprobe: Int): Map[Long, Seq[Int]] = {
    cellProbes(queryFrame(spark, queries), nprobe, readCells(spark, indexDir))
      .map { case (q, cells) => q.getLong(0) -> cells }.toMap
  }

  /** G46 (r13): MMR-diversified BATCH serving read — [[searchDiverse]]'s
    * greedy ([[mmrGreedy]]: λ·cos(q,c) − (1−λ)·max-cos(c, selected), λ a
    * pure preference knob since relevance and redundancy share the cosine
    * scale) over the CELL-probed shortlist (directory-pruned, the
    * searchCellsBatch machinery, raw vectors kept so no second index
    * pass). The shortlist ranks in the window keyed by query_id; each
    * query's ≤ `shortlist` candidates are then collected into one row by
    * an aggregate on the same key (no second shuffle) and the greedy runs
    * inside it — no vector reaches the driver, and MANY queries
    * diversify through ONE plan with no per-step jobs. Deterministic:
    * every argmax breaks ties on (doc_id, chunk_ix). Rank 1 is
    * [[searchCellsBatch]]'s rank 1 (no penalty yet), so relevance-first
    * callers lose nothing. Output schema = [[searchCellsBatch]] plus the
    * `mmr` objective. */
  def searchDiverseBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 20, lambda: Double = 0.7): DataFrame = {
    val route = cellRoute(spark, indexDir, queryFrame(spark, queries), nprobe)
    val picks = udf((rows: Seq[Row]) =>
      mmrGreedy(rows.map(mmrCand), k, lambda).zipWithIndex.map {
        case (((d, cx, chunk, rel, _), mmr), i) => (i + 1L, d, cx, chunk, rel, mmr)
      })
    best(scored(route.cands, withRaw = true), shortlist, one = false,
        col("score").desc)
      .groupBy("query_id")
      .agg(collect_list(struct("doc_id", "chunk_ix", "chunk", "score", "raw"))
        .as("cands"))
      .select(col("query_id"), explode(picks(col("cands"))).as("p"))
      .select(col("query_id"), col("p._1").as("rank"), col("p._2").as("doc_id"),
        col("p._3").as("chunk_ix"), col("p._4").as("chunk"),
        col("p._5").as("score"), col("p._6").as("mmr"))
      .orderBy("query_id", "rank")
  }

  /** r10: the store-side IVFPQ serving read — the full FAISS composition
    * over frozen sidecars: learned-cell probing (directory-level `cell=`
    * pruning, the searchCells rule) → residual-ADC shortlist over the
    * stored `rcodes` (codes only — no raw vector is read in the scan;
    * residuals share one fixed-point scale, so ADC sums compare across
    * probed cells with NO per-candidate division) → exact full-width
    * re-rank of the ≤ shortlist survivors (the B9 tail, same as
    * [[searchCompressed]]). Every sidecar it reads froze at creation and
    * is reused by appends, so codes from any batch compare. */
  def searchCompressedCells(spark: SparkSession, indexDir: String,
      query: String, k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    compressedCellsRead(spark, indexDir, Seq(query), k, nprobe, shortlist,
      one = true).drop("query_id")

  /** Batch twin of [[searchCompressedCells]] (the G23/G26 shape): many
    * queries through ONE probed/ADC/re-rank plan, every ranking windowed
    * per query. Output schema = [[searchBatch]]. */
  def searchCompressedCellsBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    compressedCellsRead(spark, indexDir, queries, k, nprobe, shortlist,
      one = false)

  private def compressedCellsRead(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, nprobe: Int, n: Int,
      one: Boolean): DataFrame = {
    import spark.implicits._
    val route = cellRoute(spark, indexDir, queryFrame(spark, queries), nprobe)
    val cmeans = route.centroids
      .map { case (cell, csum, n) => (cell, cmeanScaled(csum, n)) }
      .toSeq.toDF("cell", "cmean")
    // per probed (query, cell): the query's scaled residual against THAT
    // cell's frozen mean, tabled against the global residual codebook —
    // O(queries · nprobe · M · K) rows, broadcast
    val dtab = route.probes.join(broadcast(cmeans), "cell")
      .withColumn("qres", scaledResidual(col("qraw"), col("cmean")))
      .select(col("query_id"), col("cell"), posexplode(subvecs(col("qres"))))
      .select(col("query_id"), col("cell"), col("pos").as("m"),
        col("col").as("sub"))
      .join(broadcast(codebookFrame(spark, s"$indexDir/$PqDir/$ResCbFile")), "m")
      .withColumn("qdist", call_function("graft_sqdist_l", col("sub"), col("cent")))
      .select("query_id", "cell", "m", "j", "qdist")
    // ADC over stored codes — the scan reads (cell, ids, rcodes)
    val adc = route.region
      .select(col("cell"), col("doc_id"), col("chunk_ix"),
        posexplode(col("rcodes")))
      .select(col("cell"), col("doc_id"), col("chunk_ix"),
        col("pos").as("m"), col("col").as("code"))
      .join(broadcast(dtab), Seq("cell", "m"))
      .filter(col("code") === col("j"))
      .groupBy("query_id", "doc_id", "chunk_ix")
      .agg(sum("qdist").as("adist"))
    rerank(route.cands, shortlist(adc, n, one, col("adist")), k, one)
  }

  /** G44 (r12): SQ8 serving read — the recall rung BETWEEN the
    * raw-vector cell scan ([[searchCells]]: exact scores, 8-byte
    * decoded dims) and the residual-PQ ADC ([[searchCompressedCells]]:
    * M codes per chunk, coarsest): learned-cell probing → int8-code ADC
    * shortlist (1-byte decoded width per dim instead of 8) → exact
    * full-width re-rank of the survivors. Measured rung: recall@5 0.74
    * between exact-cells 0.82 and PQ 0.68 at the same probe budget
    * (bench/store_recall_r12.json). The ADC d·Σ q_i·code_i is exact
    * int64 (the per-chunk scale factorizes out — B6/B15's scheme), so
    * the shortlist order is deterministic. No trained sidecar: each row
    * self-scales, so codes from ANY batch compare and splice
    * maintenance never touches them. Honest cost scope
    * (bench/store_sq8_r12.json): on this corpus the PARQUET-encoded
    * codes column is byte-parity with raw
    * (both are low-entropy small ints) and at sf0.1 the extra
    * shortlist→re-rank phase costs more wall than the scan saves — the
    * rung pays in scan-bound regimes over high-entropy vectors; at toy
    * scale its measured value is the recall ladder position. */
  def searchSq8Cells(spark: SparkSession, indexDir: String,
      query: String, k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    sq8Read(spark, indexDir, Seq(query), k, nprobe, shortlist, one = true)
      .drop("query_id")

  /** Batch twin of [[searchSq8Cells]] — many queries through ONE
    * probed/ADC/re-rank plan. Output schema = [[searchBatch]]. */
  def searchSq8CellsBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    sq8Read(spark, indexDir, queries, k, nprobe, shortlist, one = false)

  private def sq8Read(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, nprobe: Int, n: Int,
      one: Boolean): DataFrame = {
    val route = cellRoute(spark, indexDir, queryFrame(spark, queries), nprobe)
    // the scan reads (cell, ids, scodes, sscale); the exact raw vector
    // is NOT touched until the re-rank
    val adc = route.cands.select(col("query_id"), col("doc_id"),
      col("chunk_ix"), (call_function("graft_dot_l", col("scodes"),
        col("qraw")) * col("sscale")).as("adc"))
    rerank(route.cands, shortlist(adc, n, one, col("adc").desc), k, one)
  }

  /** G47 (r13): the JL-projected cell read — B28's dimension-reduction
    * rung on the store, completing the compression-axis pair: scodes
    * shrinks the ELEMENT (8→1 byte decoded, full dim count), pcodes
    * shrinks the DIM COUNT (32→16 coordinates, full-width elements). The
    * shortlist scan evaluates a 16-element int64 dot per candidate (2×
    * fewer multiplies and decoded elements than the raw scan), then the
    * exact full-width cosine re-ranks the ≤shortlist survivors — the
    * B9 refine tail, so served scores are exact. No trained artifact
    * (the sign matrix is a code literal): appends, edits and splices
    * are consistent by construction, exactly the scodes discipline. */
  def searchRpCells(spark: SparkSession, indexDir: String,
      query: String, k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    rpRead(spark, indexDir, Seq(query), k, nprobe, shortlist, one = true)
      .drop("query_id")

  /** Batch twin of [[searchRpCells]] — many queries through ONE
    * probed/projected/re-rank plan. Output schema = [[searchBatch]]. */
  def searchRpCellsBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame =
    rpRead(spark, indexDir, queries, k, nprobe, shortlist, one = false)

  private def rpRead(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, nprobe: Int, n: Int,
      one: Boolean): DataFrame = {
    val route = cellRoute(spark, indexDir,
      queryFrame(spark, queries).withColumn("qp", Quantizers.project(col("qraw"), rpSigns)), nprobe)
    // the scan reads (cell, ids, pcodes); neither raw nor chunk is
    // touched until the re-rank
    val approx = route.cands.select(col("query_id"), col("doc_id"),
      col("chunk_ix"), call_function("graft_dot_l", col("pcodes"),
        col("qp")).as("pdot"))
    rerank(route.cands, shortlist(approx, n, one, col("pdot").desc), k, one)
  }

  /** Targeted delete — the engine-side analog of the reference's
    * `_delete_knowledge_chunks` (KnowledgeBot.py:351-379), which removes a
    * message's chunks before an #EDIT re-export. Spark-native shape:
    * find the buckets that contain the victim docs, then rewrite ONLY
    * those partitions (dynamic partition overwrite) with the surviving
    * rows — untouched buckets keep their files, so the rewrite cost
    * scales with the victims' bucket footprint, not the index size.
    * Returns the number of chunk rows removed. An #EDIT reprocess is
    * [[edit]] — `delete(ids)` + `ingest(append)` with the graph sidecar
    * maintained through both splices.
    *
    * Crash safety: the multi-step mutation (partition overwrite, then
    * explicit drop of fully-victim bucket dirs) is journaled. A pending
    * intent manifest — (docIds, buckets) — is committed (write + rename)
    * under `_graft_manifest/` BEFORE any data is touched and retired only
    * after the last step; [[recover]] replays pending manifests, and the
    * replay is idempotent at every interruption point because each step
    * re-derives its work from the current on-disk state (victims already
    * gone ⇒ no rewrite; bucket dir already dropped ⇒ no-op delete). */
  private val GraphDir = "_graft_graph"
  private val GraphDegree = 8
  // serving defaults = the published graph_tune_r11 operating point
  // (bucket-seeded 32/32/4: recall@5 0.64 vs full-scan truth at fewer
  // score evaluations than the bucket multiprobe's own candidate count);
  // the r10 fixed-global-entry 8/8/4 config read 0.18 and stays
  // reachable via seedFromBuckets = false
  private val GraphEntries = 32
  private val GraphBeam = 32
  private val GraphHops = 4

  /** G31: DiskANN-style navigable-graph index sidecar. For every stored
    * chunk, the top-[[GraphDegree]] same-bucket neighbors by exact int64
    * inner product, written under `_graft_graph/` next to the PQ and
    * cell sidecars. The candidate generator is the store's OWN bucket
    * layout (the partition column — candidates are physically
    * co-located, never all-pairs), and the B11 fetch-after-distinct
    * discipline keeps the self-join carrying only keys: vectors attach
    * after the pair set is fixed. Appends splice through
    * [[spliceGraph]] (r9 — the background merge a real DiskANN ships,
    * re-solving only the touched buckets and pinned bit-equal to a
    * rebuild); deletes splice through [[spliceGraphDelete]] (r10 — the
    * victims' own buckets re-solve from raw candidates, also bit-equal).
    * Returns the edge count. */
  def buildGraph(spark: SparkSession, indexDir: String,
      degree: Int = GraphDegree): Long = {
    spark.catalog.refreshByPath(indexDir)
    val nodes = open(spark, indexDir)
      .select(struct(col("doc_id"), col("chunk_ix")).as("nid"),
        col("bucket"), col("raw"))
    val slim = nodes.select(col("nid"), col("bucket"))
    val cand = slim.alias("a")
      .join(slim.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.nid") =!= col("b.nid"))
      .select(col("a.nid").as("src"), col("b.nid").as("dst"))
    // edge rows land PARTITIONED BY the src's bucket: [[spliceGraph]]
    // then refreshes only the buckets an append touched (dynamic
    // partition overwrite), never the whole sidecar
    val edges = topEdges(spark, nodes, cand, degree)
    edges.write.mode("overwrite").partitionBy("sbucket")
      .parquet(s"$indexDir/$GraphDir/edges.parquet")
    // the build degree is part of the sidecar's identity: the splice
    // merge lemma top-d(old∪new) = top-d(top-d(old)∪new) only holds for
    // d ≤ build degree, so [[spliceGraph]] reads this back and refuses
    // a wider splice instead of silently diverging from a rebuild
    import spark.implicits._
    Seq(degree).toDF("degree").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/$GraphDir/$DegreeFile")
    // per-bucket entry heads for the seeded walk — full rebuild here,
    // splice-maintained thereafter
    writeEntries(spark, indexDir, nodes, None)
    spark.read.parquet(s"$indexDir/$GraphDir/edges.parquet").count()
  }

  private val DegreeFile = "degree.parquet"
  private val EntriesFile = "entries.parquet"

  /** Per-bucket ENTRY sidecar (r11): each bucket's md5-top-
    * [[GraphEntries]] member ids, written next to the edge sidecar and
    * maintained by both splices — so the seeded walk's query-time
    * seeding is a sidecar read (O(buckets · width) rows, no index scan;
    * the same ingest-time-artifact discipline as the codebook/cells/
    * degree sidecars). `touched = None` rebuilds the whole sidecar from
    * `nodes`; `Some(buckets)` recomputes exactly those buckets from
    * `nodes` (which must hold their CURRENT members) and keeps every
    * other stored row — a bucket whose members all vanished loses its
    * rows. The entry pick is the md5 rank, so the maintained sidecar is
    * bit-equal to a from-scratch rebuild (spec-pinned). */
  private def writeEntries(spark: SparkSession, indexDir: String,
      nodes: DataFrame, touched: Option[Seq[Int]]): Unit = {
    val path = s"$indexDir/$GraphDir/$EntriesFile"
    val entryH = md5(concat_ws(":",
      col("nid.doc_id").cast("string"), col("nid.chunk_ix").cast("string")))
    val wB = Window.partitionBy("bucket")
      .orderBy(col("h"), col("nid.doc_id"), col("nid.chunk_ix"))
    val base = touched match {
      case None => nodes
      case Some(b) => nodes.filter(col("bucket").isInCollection(b))
    }
    val fresh = base.select(col("nid"), col("bucket"))
      .withColumn("h", entryH)
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= GraphEntries)
      .select(col("bucket"), col("h"),
        col("nid.doc_id").as("doc_id"), col("nid.chunk_ix").as("chunk_ix"),
        lit(GraphEntries).as("width"))
    val merged = touched match {
      case None => fresh
      case Some(b) =>
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path)
          .filter(!col("bucket").isInCollection(b))
          .unionByName(fresh)
    }
    // materialize BEFORE the overwrite truncates its own input
    merged.localCheckpoint(true)
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
  }

  /** The degree [[buildGraph]] built the edge sidecar with, read from
    * its one-row sidecar with parquet-hadoop (no Spark job). */
  private def storedDegree(spark: SparkSession, indexDir: String): Int =
    ParquetFooters.rows(spark, s"$indexDir/$GraphDir/$DegreeFile")
      .head.getInteger("degree", 0)

  /** Shared scoring tail of [[buildGraph]] and [[spliceGraph]]: attach
    * raw vectors to the candidate pair set, keep each src's top-`degree`
    * by COSINE (exact int64 dot and norms, one IEEE division — ties:
    * dst id, fully deterministic, so a splice and a rebuild agree
    * bit-for-bit). Cosine, not raw dot (r11): the serving walk ranks by
    * cosine, and edges ranked by dot point every list at the same
    * high-NORM hubs regardless of direction — a beam following
    * dot-edges under a cosine objective stalls on hubs, which is
    * exactly what the r10 recall rung measured (0.18). DiskANN's rule:
    * the graph's edge metric IS the serving metric. */
  private def topEdges(spark: SparkSession, nodes: DataFrame,
      cand: DataFrame, degree: Int): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("cos").desc,
      col("dst.doc_id"), col("dst.chunk_ix"))
    cand
      .join(nodes.select(col("nid").as("src"), col("bucket").as("sbucket"),
        col("raw").as("sr")), "src")
      .join(nodes.select(col("nid").as("dst"), col("raw").as("dr")), "dst")
      .withColumn("cos", cosine(col("sr"), col("dr")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= degree)
      .select(col("src.doc_id").as("src_doc"), col("src.chunk_ix").as("src_ix"),
        col("dst.doc_id").as("dst_doc"), col("dst.chunk_ix").as("dst_ix"),
        col("sbucket"))
  }

  /** G31b: bulk INSERT splice — the background-merge step a real DiskANN
    * ships, replacing the rebuild-after-append contract for the common
    * case. For an appended batch (`docIds`), only the LSH buckets the
    * batch landed in are re-solved:
    *
    *  - new→{old,new} edges come from the batch's same-bucket candidate
    *    pairs (the store's own blocking, exactly buildGraph's generator);
    *  - affected OLD nodes merge their STORED top-`degree` list with the
    *    new-endpoint candidates and re-rank: top-d(old ∪ new) =
    *    top-d(top-d(old) ∪ new) — any old peer outside the stored top-d
    *    is already beaten by d stored peers, so the merge reproduces the
    *    full rebuild EXACTLY (spec-pinned bit-for-bit);
    *  - untouched buckets' edge partitions are not read, not rescored,
    *    and not rewritten (the sidecar is partitioned by src bucket and
    *    the write is a dynamic partition overwrite).
    *
    * Cost tracks the appended batch's bucket footprint, not the index
    * size. A removed node invalidates stored lists in a way THIS merge
    * cannot repair (the replacement for an evicted slot was never
    * stored) — deletes go through [[spliceGraphDelete]], which re-solves
    * the victims' buckets from raw candidates instead. Returns the
    * number of edges written (the touched region's new edge count). */
  def spliceGraph(spark: SparkSession, indexDir: String, docIds: Seq[Long],
      degree: Int = GraphDegree): Long = {
    requireFormat(spark, indexDir)
    val edgePath = s"$indexDir/$GraphDir/edges.parquet"
    require(fsOf(spark).exists(new org.apache.hadoop.fs.Path(edgePath)),
      s"spliceGraph needs an existing buildGraph sidecar at $edgePath")
    // bit-equal-to-rebuild relies on each stored list being the src's
    // true top-`degree`; splicing WIDER than the build degree would ask
    // the merge for old peers the sidecar never stored — refuse.
    val built = storedDegree(spark, indexDir)
    require(degree <= built,
      s"spliceGraph degree=$degree exceeds the sidecar's build degree " +
        s"$built — top-d(old∪new)=top-d(top-d(old)∪new) only holds for " +
        "d <= build degree; rebuild with buildGraph(degree) instead")
    spark.catalog.refreshByPath(indexDir)
    val nodes = readIndex(spark, indexDir)
      .select(struct(col("doc_id"), col("chunk_ix")).as("nid"),
        col("bucket"), col("raw"))
    val touched = nodes.filter(col("nid.doc_id").isInCollection(docIds))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return 0L
    val region = nodes.filter(col("bucket").isInCollection(touched))
      .withColumn("is_new", col("nid.doc_id").isInCollection(docIds))
    val slim = region.select(col("nid"), col("bucket"), col("is_new"))
    val cand = slim.alias("a")
      .join(slim.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.nid") =!= col("b.nid") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.nid").as("src"), col("b.nid").as("dst"))
    spark.catalog.refreshByPath(edgePath)
    val storedPairs = spark.read.parquet(edgePath)
      .select(struct(col("src_doc").as("doc_id"), col("src_ix").as("chunk_ix"))
        .as("src"),
        struct(col("dst_doc").as("doc_id"), col("dst_ix").as("chunk_ix"))
          .as("dst"))
      .join(region.select(col("nid").as("src")), Seq("src"), "left_semi")
    val merged = cand.union(storedPairs).distinct()
    val newRegion = topEdges(spark, nodes, merged, degree)
      // materialize BEFORE the overwrite truncates its own input
      .localCheckpoint(true)
    newRegion.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("sbucket").parquet(edgePath)
    spark.catalog.refreshByPath(edgePath)
    // maintain the per-bucket entry sidecar for the touched buckets
    writeEntries(spark, indexDir, nodes, Some(touched))
    newRegion.count()
  }

  /** G31c: DELETE splice — closes the sidecar's last full-rebuild case.
    * Call AFTER [[delete]] has removed the victims from the index. The
    * key structural fact making a lossless local repair possible: the
    * candidate generator is SAME-BUCKET pairs, so every edge lives
    * inside one bucket and every src whose stored list cites a victim
    * sits in the victim's own bucket — the stored edge rows citing the
    * victims identify the affected sbucket partitions exactly, with no
    * reverse-edge sidecar needed.
    *
    * Repair granularity (r11 — SRC lists, not whole buckets): under a
    * rebuild, the ONLY lists that can change are (a) victims' own rows
    * (deleted) and (b) lists CITING a victim — a victim occupied top-d
    * slots and its replacement is the d+1-th neighbor, which no stored
    * list kept, so those srcs re-solve from the full live candidate set
    * of their bucket. Every other src's stored top-d is provably the
    * rebuild's answer: victims were not in it, and deleting them does
    * not reorder the surviving candidates — so those rows ride through
    * verbatim. Cost is O(citing lists × bucket membership), linear in
    * membership — the r10 version re-solved every touched bucket's full
    * n² pairs, which for a multi-chunk-doc edit (5 docs ≈ 180 chunks ≈
    * 180 buckets of 256) cost MORE than a rebuild (measured 39 s vs
    * 30 s at sf0.1; this shape reads ~3 s). Untouched buckets'
    * partitions are not read or rewritten; a touched bucket left with
    * no surviving rows has its partition dropped explicitly (dynamic
    * overwrite never rewrites a partition absent from the new data, and
    * stale rows there would cite deleted nodes). `degree` must equal
    * the build degree: ride-through lists are stored at the build
    * width, so a different width could not match a rebuild. Returns the
    * rewritten region's edge count. */
  def spliceGraphDelete(spark: SparkSession, indexDir: String,
      docIds: Seq[Long], degree: Int = GraphDegree): Long = {
    requireFormat(spark, indexDir)
    val edgePath = s"$indexDir/$GraphDir/edges.parquet"
    val fs = fsOf(spark)
    require(fs.exists(new org.apache.hadoop.fs.Path(edgePath)),
      s"spliceGraphDelete needs an existing buildGraph sidecar at $edgePath")
    val built = storedDegree(spark, indexDir)
    require(degree == built,
      s"spliceGraphDelete degree=$degree != build degree $built — " +
        "untouched partitions keep their stored lists, so only the build " +
        "width can reproduce a rebuild")
    spark.catalog.refreshByPath(edgePath)
    // affected buckets from the PRE-DELETE edge rows citing a victim
    // (src or dst side — both live in the same bucket by construction)
    val edges = spark.read.parquet(edgePath)
    val victimSrc = col("src_doc").isInCollection(docIds)
    val victimDst = col("dst_doc").isInCollection(docIds)
    val touched = edges.filter(victimSrc || victimDst)
      .select("sbucket").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return 0L
    // the lists that actually change: live srcs citing a victim
    val affectedSrcs = edges.filter(victimDst && !victimSrc)
      .select(struct(col("src_doc").as("doc_id"),
        col("src_ix").as("chunk_ix")).as("nid"))
      .distinct()
    spark.catalog.refreshByPath(indexDir)
    val nodes = readIndex(spark, indexDir) // post-merge: old victim rows gone
      .filter(col("bucket").isInCollection(touched))
      .select(struct(col("doc_id"), col("chunk_ix")).as("nid"),
        col("bucket"), col("raw"))
    // candidates: each citing src × its own bucket's live members
    val aff = nodes.join(affectedSrcs, Seq("nid"), "left_semi")
      .select(col("nid").as("src"), col("bucket").as("sb"))
    val cand = aff
      .join(nodes.select(col("nid").as("dst"), col("bucket").as("sb")), "sb")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    val resolved = topEdges(spark, nodes, cand, degree)
    // ride-through: touched buckets' stored rows minus victim rows minus
    // the re-solved srcs' old lists
    val affKeys = affectedSrcs.select(col("nid.doc_id").as("src_doc"),
      col("nid.chunk_ix").as("src_ix"))
    val keep = edges
      .filter(col("sbucket").isInCollection(touched))
      .filter(!victimSrc && !victimDst)
      .join(affKeys, Seq("src_doc", "src_ix"), "left_anti")
      .select("src_doc", "src_ix", "dst_doc", "dst_ix", "sbucket")
    val newRegion = keep.unionByName(resolved)
      .localCheckpoint(true) // materialize BEFORE the overwrite
    // (an empty region overwrites nothing; stale partitions drop below)
    if (!newRegion.isEmpty)
      newRegion.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("sbucket").parquet(edgePath)
    // touched buckets that re-solved to ZERO pairs: drop their stale
    // partitions outright (they would otherwise keep citing victims)
    val nonEmpty = newRegion.select("sbucket").distinct()
      .collect().map(_.getInt(0)).toSet
    touched.filterNot(nonEmpty).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$edgePath/sbucket=$b"), true)
    }
    spark.catalog.refreshByPath(edgePath)
    // entry sidecar: recompute the touched buckets from the post-delete
    // members (an emptied bucket simply loses its rows)
    writeEntries(spark, indexDir, nodes, Some(touched))
    newRegion.count()
  }

  /** G31 serving read: beam search over the [[buildGraph]] sidecar — the
    * B17 walk shape against the store. By default (r11, the published
    * graph_tune_r11 operating point) every query seeds [[GraphEntries]]
    * entries from its OWN multiprobe LSH buckets — the only components
    * the same-bucket edge sidecar lets its walk reach — then expands
    * [[GraphHops]] times through the edges keeping the best
    * max([[GraphBeam]], k) by cosine to the query (the beam widens with
    * k — a k above the beam would otherwise be silently capped by the
    * last frontier), and answers with the final top-k. Per hop the walk
    * touches O(beam · degree) stored vectors — independent of index
    * size, the property that makes graph serving the low-latency read
    * once an index outgrows exhaustive bucket probes; at the default
    * knobs the whole walk evaluates fewer scores than the bucket
    * multiprobe's own candidate count (recall@5 0.64 vs the probe's
    * 0.74 at sub-probe cost — bench/graph_tune_r11.json). Delegates to
    * the batch walk (one machinery, spec'd rank-for-rank equal). Output
    * schema = [[search]]. */
  def searchGraph(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5): DataFrame =
    graphWalk(spark, indexDir, Seq(query), k, GraphEntries, GraphBeam,
      GraphHops, seedFromBuckets = true, countTouched = false,
      one = true)._1.drop("query_id")

  /** G31 batch twin (the G23/G26 shape for the graph path): many queries
    * walk the edge sidecar through ONE plan. The frontier carries a
    * `query_id`, each hop's beam prunes through a window PARTITIONED BY
    * QUERY, and the bounded (queries × beam)-row frontier is eagerly
    * checkpointed per hop exactly like the single-query walk. Output
    * schema = [[searchBatch]].
    *
    * Serving knobs (r11, the B14 tuning discipline applied to G31):
    * `entries`/`beam`/`hops` widen the walk; `seedFromBuckets` replaces
    * the fixed md5-drawn global entry set with per-query entries drawn
    * from the query's OWN multiprobe LSH buckets. The edge sidecar's
    * candidate generator is same-bucket pairs, so the graph is a union
    * of per-bucket components — a walk can NEVER leave the buckets its
    * entries start in, which is why fixed global entries starve against
    * full-scan truth (store_recall_r10: 0.18) and why cell-sidecar
    * medoids would not help either (medoids land in arbitrary buckets).
    * Bucket seeding reads only the probed partitions, column-pruned to
    * (nid, bucket), caps at `entries` md5-ranked rows per query, and the
    * walk then scores O(entries + hops·beam·degree) vectors — the
    * operating points are published in bench/graph_tune_r11.json. */
  def searchGraphBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, entries: Int = GraphEntries,
      beam: Int = GraphBeam, hops: Int = GraphHops,
      seedFromBuckets: Boolean = true): DataFrame =
    graphWalk(spark, indexDir, queries, k, entries, beam, hops,
      seedFromBuckets, countTouched = false)._1

  /** G45 (r12): the DiskANN discipline over the G31 walk — every HOP
    * scores candidates from the G44 int8 codes (the per-chunk scale
    * CANCELS from the cosine, so the hop ranking is deterministic pure
    * code arithmetic: d·Σq·c / (d·√Σc²·√Σq²)), and the exact raw
    * vectors are read ONLY for the final ≤beam-per-query re-rank — the
    * walk's per-hop DECODED width drops to ⅛ of the exact walk's at
    * identical knob costs, which is precisely how DiskANN keeps its
    * frontier in fast memory and full vectors on SSD (Subramanya et al.
    * 2019). Served scores stay EXACT (the tail recomputes them
    * full-width), and the measured recall is IDENTICAL to the exact
    * walk (0.64, bench/store_recall_r12.json) — quantized routing loses
    * nothing on this corpus. Honest cost scope
    * (bench/store_sq8_r12.json): the on-disk codes column is
    * byte-parity with raw here (parquet entropy-codes both), and at
    * sf0.1 the extra final re-rank join reads slightly slower than the
    * exact walk — the route-on-codes payoff is a decoded-working-set /
    * scan-bound-regime property. */
  def searchGraphSq8(spark: SparkSession, indexDir: String, query: String,
      k: Int = 5): DataFrame =
    graphWalk(spark, indexDir, Seq(query), k, GraphEntries, GraphBeam,
      GraphHops, seedFromBuckets = true, countTouched = false,
      sq8Hops = true, one = true)._1.drop("query_id")

  /** Batch twin of [[searchGraphSq8]] — knobs as [[searchGraphBatch]]. */
  def searchGraphSq8Batch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int = 5, entries: Int = GraphEntries,
      beam: Int = GraphBeam, hops: Int = GraphHops,
      seedFromBuckets: Boolean = true): DataFrame =
    graphWalk(spark, indexDir, queries, k, entries, beam, hops,
      seedFromBuckets, countTouched = false, sq8Hops = true)._1

  /** The walk body behind [[searchGraphBatch]]; `countTouched = true`
    * additionally returns the number of (query, vector) score
    * evaluations the walk performed — the cost axis of the published
    * tuning table (extra per-hop counts run only when asked). `one`
    * marks a single-query read: every beam, entry pick and the final
    * cut then rank through the read core's TakeOrderedAndProject form. */
  private[graft] def graphWalk(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, entries: Int, beamIn: Int, hops: Int,
      seedFromBuckets: Boolean, countTouched: Boolean,
      sq8Hops: Boolean = false, one: Boolean = false): (DataFrame, Long) = {
    // the per-hop beam must cover the asked-for k: the final cut runs
    // over the LAST frontier, which holds at most `beam` rows per query
    val beam = math.max(beamIn, k)
    requireFormat(spark, indexDir)
    spark.catalog.refreshByPath(indexDir)
    val index = readIndex(spark, indexDir)
    val nid = struct(col("doc_id"), col("chunk_ix")).as("nid")
    val nodes = index.select(nid, col("bucket"), col("chunk"), col("raw"))
    val edges = spark.read.parquet(s"$indexDir/$GraphDir/edges.parquet")
      .select(struct(col("src_doc"), col("src_ix")).as("src"),
        struct(col("dst_doc"), col("dst_ix")).as("dst"))
    val qdf = queryFrame(spark, queries)
    val nidTies = Seq(col("nid.doc_id"), col("nid.chunk_ix"))
    val entryH = md5(concat_ws(":",
      col("nid.doc_id").cast("string"), col("nid.chunk_ix").cast("string")))
    def globalStart(qs: DataFrame): DataFrame = {
      val entryDf = nodes.select(col("nid"))
        .withColumn("h", entryH)
        .orderBy(col("h"), col("nid.doc_id"), col("nid.chunk_ix"))
        .limit(entries).select(col("nid"))
      qs.crossJoin(broadcast(entryDf))
    }
    val start =
      if (seedFromBuckets) {
        // per-query entries from the query's multiprobe bucket set —
        // deterministic md5-ranked members of the probed buckets, inside
        // the only components the same-bucket edge sidecar lets this
        // query's walk reach. Served from the per-bucket ENTRY sidecar
        // when it is wide enough (O(buckets · width) rows, NO index scan
        // — the 100 TB seeding path; its width is a footer statistic, no
        // job); an entry request wider than the stored width, or a
        // sidecar with no rows, seeds from a column-pruned directory read
        // of the probed partitions. Both derivations pick the identical
        // entry set: a per-query winner is necessarily within its own
        // bucket's md5-top-`width`.
        val probes = bucketProbes(qdf).select("query_id", "bucket")
        val entPath = s"$indexDir/$GraphDir/$EntriesFile"
        val candidates =
          if (ParquetFooters.maxLong(spark, entPath, "width").exists(_ >= entries)) {
            spark.catalog.refreshByPath(entPath)
            spark.read.parquet(entPath).select(col("bucket"), col("h"),
              struct(col("doc_id"), col("chunk_ix")).as("nid"))
          } else nodes.select(col("nid"), col("bucket")).withColumn("h", entryH)
        val seeded = best(candidates.join(broadcast(probes), "bucket"),
            entries, one, col("h"), nidTies)
          .select(col("query_id"), col("nid"))
        // a query whose 9 probed buckets hold NO rows gets global
        // entries instead of an empty answer (bounded: the unseeded
        // query set is tiny by construction, and usually empty)
        val unseeded = qdf.select(col("query_id"))
          .join(seeded.select("query_id").distinct(),
            Seq("query_id"), "left_anti")
        seeded.unionByName(globalStart(unseeded))
      } else globalStart(qdf.select(col("query_id")))
    val score = cosine(col("raw"), col("qraw"))
    // sq8 hop metric (G45): the per-chunk scale d cancels from
    // d·Σq·c / (d·√Σc² · √Σq²), so hops rank by pure code arithmetic —
    // exact int64 inside, one IEEE division, no scale column read
    val (hopNodes, hopScore) =
      if (!sq8Hops) (nodes.select(col("nid"), col("raw")), score)
      else (index.select(nid, col("scodes")), cosine(col("scodes"), col("qraw")))
    var touched = 0L
    def hop(f: DataFrame): DataFrame = {
      val fc = f.select(col("query_id"), col("nid"))
      val grown = fc.union(
        edges.join(broadcast(fc), col("nid") === col("src"))
          .select(col("query_id"), col("dst").as("nid"))).distinct()
      if (countTouched) touched += grown.count()
      best(hopNodes.join(broadcast(grown), "nid")
          .join(broadcast(qdf), "query_id")
          .select(col("query_id"), col("nid"), hopScore.as("score")),
        beam, one, col("score").desc, nidTies)
        .select(col("query_id"), col("nid"), col("score"))
    }
    val last = (1 to hops)
      .foldLeft(start.localCheckpoint(true))((f, _) => hop(f).localCheckpoint(true))
    // sq8 walk: the exact raw vectors enter ONLY here, for the bounded
    // (queries × beam)-row final re-rank — served scores stay exact
    val finalScored =
      if (!sq8Hops) last
      else nodes.select(col("nid"), col("raw"))
        .join(broadcast(last.select(col("query_id"), col("nid"))), Seq("nid"))
        .join(broadcast(qdf), "query_id")
        .select(col("query_id"), col("nid"), score.as("score"))
    val out = best(finalScored, k, one, col("score").desc, nidTies)
      .join(nodes.select(col("nid"), col("chunk")), "nid")
      .select(col("query_id"), col("rank"), col("nid.doc_id").as("doc_id"),
        col("nid.chunk_ix").as("chunk_ix"), col("chunk"), col("score"))
      .orderBy("query_id", "rank")
    (out, touched)
  }

  /** The #EDIT lifecycle op: the reference re-exports an edited message
    * by removing its old chunks and re-ingesting the new text
    * (KnowledgeBot.py:351-379 → `_delete_knowledge_chunks` then the
    * export path). Here that is ONE store write ([[merge]]): the old
    * docs' chunks leave and the re-exported docs' chunks — encoded once,
    * row-locally over the frozen sidecars (codebook, perm, cells,
    * residual codebook), as an append encodes — enter in one rewrite of
    * the touched (bucket, cell) partitions, with one zone-map update and
    * one lexical generation. A store with a graph sidecar then splices it
    * through [[spliceGraphDelete]] (the victims' lists) and
    * [[spliceGraph]] (the new chunks' region); each splice is bit-equal
    * to a rebuild, so the edit ends bit-equal to `buildGraph` over the
    * final index (spec-pinned). A missing or empty `indexDir` is created
    * from `newDocs`. Returns (chunks removed, chunks added).
    *
    * The batch is held on the driver: `newDocs` is collected once (a frame
    * folded on the driver, like IngestJob's blocks, runs no job) and
    * written from there as the staged copy. Volume bound: every caller
    * already collects the batch's ids (IngestJob's `resolveIds`,
    * `Streams.indexMaintenance` and `applyEditBatch`), and a batch is an
    * incremental window of human-written messages or edits, so its docs
    * and chunks are batch-sized too; a bulk load belongs in [[ingest]],
    * which stays distributed.
    *
    * Crash-safe (r15, the r12 verdict's item #4): the new content is
    * STAGED durably first — the staged copy commits before the manifest —
    * and an edit-intent manifest committed (temp + rename, like
    * delete's), THEN [[applyEdit]] runs. A kill at ANY point
    * — before, during or after the merged overwrite (which replaces its
    * partitions one by one at commit), before the zone map, before the
    * lexical generation, before a graph splice — leaves the manifest
    * pending, and [[recover]] replays [[applyEdit]] from the staged copy.
    * The replay converges to EXACTLY the post-edit state because the
    * merge re-derives from current state: rows a partial run already
    * wrote carry the edit's doc_ids, so they are removed and re-added
    * like the old ones; a partition whose live dir the commit deleted
    * before renaming its staged content in gets that content back first
    * (recover's [[finishOverwrite]]); the zone map re-syncs from the
    * files' footers; the lexical generation of a replay is above any
    * postings a cut run left, and the doclog is keep-latest;
    * spliceGraphDelete no-ops when nothing cites a victim. A crash BEFORE
    * the manifest commits leaves the store bit-identical to pre-edit
    * (the orphaned staging dir is swept by recover). Readers between the
    * crash and `recover` can see a partial state; `recover` leaves none. */
  def edit(spark: SparkSession, indexDir: String, docIds: Seq[Long],
      newDocs: org.apache.spark.sql.DataFrame, chunkSize: Int = 20,
      overlap: Int = 5, batchTag: Long = 0L): (Long, Long) = {
    // a batch-sized creation writes as one task: one file per partition,
    // as the merge writes
    if (!occupied(spark, indexDir))
      return (0L, ingest(newDocs.coalesce(1), indexDir, chunkSize, overlap,
        mode = "append", batchTag = batchTag))
    requireFormat(spark, indexDir)
    val fs = fsOf(spark)
    val stamp = s"${System.currentTimeMillis()}_${docIds.hashCode.abs}"
    val staged = stageDocs(spark, s"$indexDir/$EditStageDir/staged_$stamp",
      newDocs)
    val manifest = writeEditManifest(fs, indexDir, stamp, docIds, staged,
      chunkSize, overlap, batchTag)
    val res = applyEdit(spark, indexDir, docIds, staged, chunkSize, overlap,
      batchTag)
    fs.delete(manifest, false) // retire the intent — edit is complete
    fs.delete(new Path(staged), true)
    res
  }

  /** Write `docs`' (doc_id, text[, meta]) rows to `staged` as one parquet
    * file, from the driver ([[ParquetFooters.write]]: the file a Spark
    * write of the same frame gives, no job). Meta rides the staged copy
    * when present: a meta-carrying store requires it, and a replay must
    * see it too. Returns `staged`. */
  private[graft] def stageDocs(spark: SparkSession, staged: String,
      docs: DataFrame): String = {
    val cols = Seq("doc_id", "text") ++
      (if (docs.columns.contains("meta")) Seq("meta") else Nil)
    val kept = docs.select(cols.map(col): _*)
    ParquetFooters.write(spark, staged, kept.schema, LocalFrames.rows(kept),
      overwrite = true)
    staged
  }

  /** The edit body shared by [[edit]] and [[recover]]: read the staged
    * docs on the driver ([[ParquetFooters.local]]), encode them once,
    * [[merge]] them in, then the graph splices — every step re-derives
    * from CURRENT state, so replaying after any partial failure converges
    * to the post-edit state. The staged docs are batch-sized ([[edit]]'s
    * volume bound), so the batch's rows stay on the driver from the
    * staged read to the merge. */
  private def applyEdit(spark: SparkSession, indexDir: String,
      docIds: Seq[Long], staged: String, chunkSize: Int, overlap: Int,
      batchTag: Long): (Long, Long) = {
    val hasGraph = fsOf(spark).exists(new Path(s"$indexDir/$GraphDir/edges.parquet"))
    // the sidecar's own build degree drives BOTH splices: hardcoding the
    // default would make edit() unusable on any buildGraph(degree != 8)
    // store (spliceGraphDelete requires degree == built)
    val deg = if (hasGraph) storedDegree(spark, indexDir) else GraphDegree
    val fresh = encodeFresh(spark, indexDir, ParquetFooters.local(spark, staged),
      chunkSize, overlap, batchTag)
    val removed = merge(spark, indexDir, docIds, Some(fresh))
    // unconditional (not gated on removed > 0): a replay may find the
    // index rows already replaced while the graph still cites the victims
    // — spliceGraphDelete no-ops when nothing does
    if (hasGraph)
      spliceGraphDelete(spark, indexDir, docIds, deg)
    val added = LocalFrames.rows(fresh.select("doc_id")).map(_.getLong(0))
    if (hasGraph && added.nonEmpty)
      spliceGraph(spark, indexDir, added.distinct, deg)
    (removed, added.length.toLong)
  }

  /** Encode `docs` once: chunk, then [[storeRows]] over the frozen
    * artifacts read on the driver — row-local, as an append encodes —
    * collected in one job into a driver-local frame of the store layout,
    * which the merge's keys, its write and the postings all read. */
  private def encodeFresh(spark: SparkSession, indexDir: String,
      docs: DataFrame, chunkSize: Int, overlap: Int, batchTag: Long): DataFrame = {
    val chunks = chunksOf(docs, chunkSize, overlap)
    LocalFrames.of(storeRows(embed(chunks), readFrozen(spark, indexDir),
      keepsMeta(spark, indexDir, chunks.columns, reuse = true), lit(batchTag)))
  }

  /** The one store write of a delete or an edit batch: every row whose
    * `doc_id` is in `ids` leaves the index and `fresh`'s rows enter it —
    * the REPOSE shape (partition-local work, then one merge):
    *
    *  - victims: only the data files whose footer `doc_id` range covers
    *    an id are scanned, once, for each victim row's (bucket, cell); a
    *    batch of new ids scans nothing;
    *  - touched = the victims' partitions ∪ `fresh`'s (a driver-local
    *    frame: its keys fold on the driver). Their rows whose
    *    doc_id ∉ ids, with `fresh`'s rows, are hash-partitioned by
    *    (bucket, cell) — the shuffle reads every input row before any
    *    output commits — and written in ONE dynamic-partition overwrite,
    *    so each rewritten partition lands as one file. A touched
    *    partition left with no row is not replaced by the overwrite; it
    *    still holds only files listed before it, and is deleted here (its
    *    bucket dir too, once no cell is left);
    *  - the zone map updates once, from the new files' footers
    *    ([[graft.sources.ZoneMaps.appendSidecar]]);
    *  - one lexical generation, written from the driver: a live doclog
    *    row per re-added doc, a kill row per other id, then postings for
    *    `fresh`'s chunks ([[VectorStoreLex.logGeneration]]).
    *
    * Every step re-derives from current state, so a replay after a crash
    * anywhere in here converges: rows a partial run already wrote carry
    * `ids`, so they are removed and re-added (a cut inside the
    * overwrite's commit is first finished by [[finishOverwrite]]).
    * Returns the rows removed. */
  private def merge(spark: SparkSession, indexDir: String, ids: Seq[Long],
      fresh: Option[DataFrame]): Long = {
    spark.catalog.refreshByPath(indexDir)
    val fs = fsOf(spark)
    val files = ParquetFooters.statuses(spark, indexDir).toVector
    val scanned = covering(spark, files, ids)
    val victims = if (scanned.isEmpty) Array.empty[(Int, Int)]
      else readIndex(spark, indexDir, Some(scanned))
        .filter(col("doc_id").isInCollection(ids)).select("bucket", "cell")
        .collect().map(r => (r.getInt(0), r.getInt(1)))
    val touched = victims.toSet ++ fresh.toSeq.flatMap(f =>
      LocalFrames.rows(f.select("bucket", "cell")).map(r => (r.getInt(0), r.getInt(1))))
    def partDir(b: Int, c: Int) = s"$indexDir/bucket=$b/cell=$c"
    if (touched.nonEmpty) {
      val rewritten = files.filter { st =>
        val f = st.getPath
        touched((f.getParent.getParent.getName.stripPrefix("bucket=").toInt,
          f.getParent.getName.stripPrefix("cell=").toInt))
      }
      val survivors = if (rewritten.isEmpty) None
        else Some(readIndex(spark, indexDir, Some(rewritten))
          .filter(!col("doc_id").isInCollection(ids)))
      (survivors ++ fresh).reduce(_ unionByName _)
        .repartition(col("bucket"), col("cell"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "cell").parquet(indexDir)
      val before = rewritten.map(_.getPath.toString).toSet
      touched.foreach { case (b, c) =>
        if (ParquetFooters.files(spark, partDir(b, c)).forall(f => before(f.toString)))
          fs.delete(new Path(partDir(b, c)), true)
      }
      touched.map(_._1).foreach { b =>
        val bDir = new Path(s"$indexDir/bucket=$b")
        if (fs.exists(bDir) &&
            !fs.listStatus(bDir).exists(_.getPath.getName.startsWith("cell=")))
          fs.delete(bDir, true)
      }
      spark.catalog.refreshByPath(indexDir)
    }
    graft.sources.ZoneMaps.appendSidecar(spark, indexDir, "batch_tag")
    VectorStoreLex.logGeneration(spark, indexDir, fresh, ids)
    victims.length.toLong
  }

  /** The data `files` whose footer `doc_id` range covers one of `ids` —
    * the only files that can hold an id's rows. */
  private def covering(spark: SparkSession, files: Seq[FileStatus],
      ids: Seq[Long]): Seq[FileStatus] = {
    val sorted = ids.distinct.sorted.toArray
    files.filter(f => ParquetFooters.longBounds(spark, f.getPath, "doc_id").exists {
      case (lo, hi) =>
        val i = java.util.Arrays.binarySearch(sorted, lo)
        val at = if (i >= 0) i else -i - 1
        at < sorted.length && sorted(at) <= hi
    })
  }

  /** Remove `docIds`' chunks: the [[merge]] with no new rows, journaled by
    * a delete manifest that [[recover]] replays. Returns the chunks
    * removed; ids that no data file's footer range covers are not in the
    * store, and a delete of only those writes nothing. */
  def delete(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Long = {
    requireFormat(spark, indexDir)
    if (covering(spark, ParquetFooters.statuses(spark, indexDir).toSeq, docIds).isEmpty)
      return 0L
    val fs = fsOf(spark)
    val manifest = writeManifest(fs, indexDir, docIds)
    val removed = merge(spark, indexDir, docIds, None)
    fs.delete(manifest, false) // retire the intent — delete is complete
    removed
  }

  /** G51 (r16): retrain the store's learned artifacts over the CURRENT
    * corpus — the dense-plane counterpart of the lexical plane's
    * compactLex, closing the frozen-cell-map gap the r13 verdict named
    * (G22 freezes cell geometry at creation; under drifting appends the
    * Voronoi cells stop matching the data and recall degrades
    * PERMANENTLY — bench/store_recall_churn_r16.json measures it).
    *
    * Semantics: re-derive every learned artifact (OPQ permutation, PQ
    * codebook, k-means cells, residual codebook) and every encoded
    * column EXACTLY as a fresh creation over the current chunk set
    * would — the implementation IS the creation path ([[ingestChunks]])
    * run over the store's surviving chunks, so the retrained store is
    * bit-for-bit the store a fresh ingest of the surviving docs
    * produces (RetrainSpec pins rows + all four artifact sidecars),
    * with one deliberate exception: per-row `batch_tag`s are PRESERVED
    * (the time axis must survive a retrain; a fresh creation would
    * flatten them to one tag). The graph sidecar needs no rebuild —
    * edges reference (doc, chunk) raw vectors, which retrain never
    * changes. The lexical sidecar is recreated at gen 1 over the same
    * content (serving-identical: that is exactly what compactLex
    * guarantees).
    *
    * Crash-safe (the G42/compactLex discipline): the complete new store
    * (data + pq/cells/lex sidecars) stages under `_graft_retrain/`, a
    * `retrain` manifest commits (temp + rename), then the swap replaces
    * each staged entry idempotently (delete final, rename staged — an
    * entry already gone moved before the crash) and the zone-map
    * sidecar rebuilds from the final file set (staged zone maps record
    * staging-dir paths, so they are rebuilt, not moved). recover()
    * finishes a half-done swap from the manifest and sweeps a
    * pre-commit orphan stage. Returns the number of re-encoded chunks.
    *
    * 100 TB shape: one full index rewrite — the same cost class as
    * creation, run RARELY and measured before/after (the churn
    * artifact); all training steps are the creation path's (map-side
    * aggregates + K-row broadcast summaries), nothing new. */
  def retrainCells(spark: SparkSession, indexDir: String,
      cells: Int = KmCells): Long = {
    val n = stageRetrain(spark, indexDir, cells)
    swapRetrain(spark, indexDir)
    n
  }

  private val RetrainDir = "_graft_retrain"
  private def retrainStage(indexDir: String) = s"$indexDir/$RetrainDir/store"
  private def retrainManifest(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/$ManifestDir/retrain.json")

  private[graft] def stageRetrain(spark: SparkSession, indexDir: String,
      cells: Int = KmCells): Long = {
    val fs = fsOf(spark)
    spark.catalog.refreshByPath(indexDir)
    val cur = open(spark, indexDir)
    val metaIn: Seq[Column] =
      if (cur.columns.contains("meta")) Seq(col("meta")) else Nil
    // the chunk set + preserved tags; orig_tag is consumed (and dropped)
    // by ingestChunks so the written column ORDER matches fresh creation
    val chunks = cur.select((Seq(col("doc_id")) ++ metaIn ++ Seq(
      col("chunk_ix"), col("chunk"), col("batch_tag").as("orig_tag"))): _*)
      .localCheckpoint(true) // sever from indexDir: the swap will replace it
    val stage = retrainStage(indexDir)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val n = ingestChunks(chunks, stage, "overwrite", col("orig_tag"), cells)
    commitJson(fs, retrainManifest(indexDir), "{}")
    n
  }

  /** Idempotent swap half of [[retrainCells]] — also the recover()
    * replay: each staged entry (bucket=* dirs, _graft_pq, _graft_cells,
    * _graft_lex) replaces its final twin; one already gone moved before
    * the crash. The staged zone-map sidecar is discarded and rebuilt
    * over the final tree (it records absolute file paths); the staged
    * format marker is discarded too, so the live one never goes away. */
  private[graft] def swapRetrain(spark: SparkSession,
      indexDir: String): Unit = {
    val fs = fsOf(spark)
    val stage = new org.apache.hadoop.fs.Path(retrainStage(indexDir))
    val discard = Set("_graft_zonemap", FormatFile, s".$FormatFile.crc")
    if (fs.exists(stage)) {
      fs.listStatus(stage).map(_.getPath).foreach { p =>
        if (discard(p.getName)) fs.delete(p, true)
        else {
          val tgt = new org.apache.hadoop.fs.Path(s"$indexDir/${p.getName}")
          fs.delete(tgt, true)
          require(fs.rename(p, tgt), s"retrain swap failed: $p -> $tgt")
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$RetrainDir"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/_graft_zonemap"), true)
    spark.catalog.refreshByPath(indexDir)
    graft.sources.ZoneMaps.writeSidecar(spark, indexDir, "batch_tag")
    fs.delete(retrainManifest(indexDir), false)
  }

  /** recover() hook: finish a half-swapped retrain if its manifest is
    * pending; with NO manifest pending, a `_graft_retrain` dir is a
    * pre-commit orphan (crash during staging) and is swept. */
  private def recoverRetrain(spark: SparkSession, indexDir: String): Unit = {
    val fs = fsOf(spark)
    if (fs.exists(retrainManifest(indexDir))) swapRetrain(spark, indexDir)
    else fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$RetrainDir"),
      true)
  }

  /** Replay pending delete AND edit manifests left by a crashed
    * [[delete]]/[[edit]] run. Call on store open (IngestJob does) or
    * after a failure. A half-swapped lexical compaction replays FIRST:
    * the compaction swap renames staged dirs over the live postings/
    * doclog, so any kill rows / postings the delete/edit replays append
    * must land on the POST-swap dirs — replaying ops first and swapping
    * last would silently discard those appends under the stale staged
    * state (r13 advice: a deleted doc could resurrect in the lexical
    * leg). Then deletes replay, then edits replay from their staged
    * content — each is its one [[merge]] run again from current state,
    * which converges from any point the crash left (see [[edit]]) — then
    * orphaned staging dirs (crash between manifest retire and stage
    * cleanup) are swept. Before any replay, an overwrite cut inside its
    * commit is finished ([[finishOverwrite]]): a partition whose live dir
    * the commit had already deleted gets its staged content back, since
    * its surviving rows exist nowhere else and the replay re-derives from
    * current state. Returns the number of manifests replayed. Safe
    * to call any time on a store of this format: with no pending
    * manifests it reads nothing but the manifest dir listing. */
  def recover(spark: SparkSession, indexDir: String): Int = {
    requireFormat(spark, indexDir)
    val fs = fsOf(spark)
    // a half-swapped retrain replays FIRST (it replaces whole planes —
    // anything appended to pre-swap dirs would be discarded), then a
    // half-swapped lexical compaction, BOTH before any manifest replay
    // appends to the lexical sidecar (see scaladoc); with no manifests
    // pending these also sweep pre-commit staging orphans
    recoverRetrain(spark, indexDir)
    VectorStoreLex.recoverCompact(spark, indexDir)
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/$ManifestDir")
    val listed = if (!fs.exists(dir))
      Array.empty[org.apache.hadoop.fs.Path]
    else fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val edits = listed.filter(_.getName.startsWith("edit_"))
    val deletes = listed.filter(_.getName.startsWith("delete_"))
    if (listed.nonEmpty) finishOverwrite(spark, indexDir)
    deletes.foreach { p =>
      merge(spark, indexDir, nums(readText(fs, p), "docIds").map(_.toLong), None)
      fs.delete(p, false)
    }
    edits.foreach { p =>
      val (docIds, staged, chunkSize, overlap, batchTag) =
        readEditManifest(fs, p)
      applyEdit(spark, indexDir, docIds, staged, chunkSize, overlap, batchTag)
      fs.delete(p, false)
      fs.delete(new org.apache.hadoop.fs.Path(staged), true)
    }
    // orphaned stages: manifest retired (edit complete) but the crash
    // hit before the staging dir was removed — content is already live,
    // the copy is garbage
    val stageRoot = new org.apache.hadoop.fs.Path(s"$indexDir/$EditStageDir")
    if (fs.exists(stageRoot)) {
      val live = (if (!fs.exists(dir)) Array.empty[String]
      else fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("edit_"))
        .filter(_.getName.endsWith(".json"))
        .map(p => readEditManifest(fs, p)._2)).toSet
      fs.listStatus(stageRoot).map(_.getPath)
        .filterNot(p => live.contains(p.toString) ||
          live.exists(_.endsWith(s"/$EditStageDir/${p.getName}")))
        .foreach(p => fs.delete(p, true))
    }
    listed.length
  }

  /** Finish a [[merge]] overwrite cut inside its commit. Spark's
    * dynamic-partition commit stages every written partition under
    * `.spark-staging-<job>/` and only then, one partition at a time,
    * deletes the live dir and renames the staged one into place. A cut
    * between that delete and that rename leaves a partition whose live
    * dir is gone — its survivors with it — and whose complete new
    * content (survivors plus the edit's rows) sits in the staging dir:
    * that staged dir is renamed into place. A staged partition whose
    * live dir still exists was not swapped yet and the live one stands
    * (the replayed merge rewrites it). The staging dirs then go. */
  private def finishOverwrite(spark: SparkSession, indexDir: String): Unit = {
    val fs = fsOf(spark)
    def dirs(p: Path, prefix: String) = fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
    dirs(new Path(indexDir), ".spark-staging-").foreach { stage =>
      for (b <- dirs(stage, "bucket="); c <- dirs(b, "cell=")) {
        val live = new Path(s"$indexDir/${b.getName}/${c.getName}")
        if (!fs.exists(live)) {
          fs.mkdirs(live.getParent)
          require(fs.rename(c, live), s"overwrite recovery failed: $c -> $live")
        }
      }
      fs.delete(stage, true)
    }
  }

  private[operators] val ManifestDir = "_graft_manifest"

  /** Commit a delete intent atomically ([[commitJson]]). */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, docIds: Seq[Long]): Path = {
    val name = s"delete_${System.currentTimeMillis()}_${docIds.hashCode.abs}"
    commitJson(fs, new Path(s"$indexDir/$ManifestDir/$name.json"),
      s"""{"docIds":[${docIds.mkString(",")}]}""")
  }

  private val EditStageDir = "_graft_edit"

  /** Commit an edit intent atomically (the delete-manifest discipline):
    * records the victim ids, the staged new-content path, and the chunk
    * knobs, so [[recover]] can replay the whole edit from durable state. */
  private def writeEditManifest(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, stamp: String, docIds: Seq[Long], staged: String,
      chunkSize: Int, overlap: Int, batchTag: Long)
      : org.apache.hadoop.fs.Path =
    commitJson(fs, new org.apache.hadoop.fs.Path(
      s"$indexDir/$ManifestDir/edit_$stamp.json"),
      s"""{"docIds":[${docIds.mkString(",")}],""" +
        s""""staged":"$staged","knobs":[$chunkSize,$overlap,$batchTag]}""")

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** A manifest's numeric array field `key`, as strings. */
  private def nums(json: String, key: String): Seq[String] =
    s""""$key":\\[([0-9,\\-]*)\\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Seq.empty)

  private def readEditManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): (Seq[Long], String, Int, Int, Long) = {
    val json = readText(fs, p)
    val staged = """"staged":"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"torn edit manifest $p: $json"))
    val knobs = nums(json, "knobs")
    (nums(json, "docIds").map(_.toLong), staged,
      knobs(0).toInt, knobs(1).toInt, knobs(2).toLong)
  }
}
