package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** G34: min/max zone-map data skipping — the file-pruning layer a table
  * format keeps in its manifests (Delta/Iceberg per-file column stats),
  * built here as a parquet sidecar so a plain-directory layout gets the
  * same scan avoidance. Composes with the E37 layout story: stats only
  * prune when the write CLUSTERED the column (range partition here, the
  * 1-D analogue of Z-order; on a shuffled layout every file's [min, max]
  * spans the domain and nothing prunes — the spec measures exactly that
  * contrast).
  *
  * Scale shape: the sidecar is O(files), not O(rows) — pruning reads the
  * sidecar (KiB) and hands the surviving file list to the parquet reader,
  * so a selective range query on 100 TB touches only the overlapping
  * files, before row-group-level parquet min/max statistics prune
  * further WITHIN each file. The sidecar lives in a `_`-prefixed child
  * dir (`_graft_zonemap`), which Spark's file index ignores on normal
  * reads of the table path — same convention as the streaming seen-ID
  * sketch sidecar (Streams.scala).
  *
  * Null discipline: min/max ignore nulls, so an all-null file carries a
  * null zone and is always pruned — consistent, because the skipping
  * reader only serves RANGE predicates and SQL comparison semantics
  * exclude null rows from any range result.
  */
object ZoneMaps {
  private def zonemapDir(path: String) = s"$path/_graft_zonemap"

  /** Land `df` range-clustered on `byCol` (≤ `nFiles` contiguous files)
    * and write the per-file (file, min, max, rows) sidecar. The sidecar
    * is computed by re-scanning footer-cheap columns of the files just
    * written — one narrow pass grouped on `input_file_name()`, output
    * bounded by the file count. `clustered = false` lands the same data
    * hash-shuffled instead — the control layout whose zones all span the
    * domain (nothing prunes), for measuring what clustering buys. */
  def writeClustered(spark: SparkSession, df: DataFrame, path: String,
      byCol: String, nFiles: Int, clustered: Boolean = true): Unit = {
    val laid =
      if (clustered) df.repartitionByRange(nFiles, col(byCol))
      else df.repartition(nFiles)
    laid.write.mode("overwrite").parquet(path)
    writeSidecar(spark, path, byCol)
  }

  /** The sidecar alone, over an ALREADY-WRITTEN parquet tree at `path`
    * (flat or partitioned — `input_file_name()` keys each physical file
    * either way). Lets a job that controls its own write (e.g. the
    * CorpusJob shards) add file-skipping without rewriting data. */
  def writeSidecar(spark: SparkSession, path: String, byCol: String): Unit = {
    // an in-session overwrite of a previously-read path leaves a cached
    // FileIndex serving the OLD file list — refresh before the sidecar
    // scan (same discipline as the streaming seen-sketch sidecar)
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(byCol))
      .groupBy("file")
      .agg(min(byCol).as("zmin"), max(byCol).as("zmax"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(zonemapDir(path))
  }

  /** Incrementally refresh the sidecar after files were APPENDED to (or
    * removed from — compaction, deletes) an already-mapped table: stats
    * are computed for the files NOT yet in the sidecar only, so the cost
    * is O(new files), not O(table) — the difference between a
    * streaming/CDC append cadence (F26, F10) being able to keep zone maps
    * fresh and the sidecar rotting after the first append. Sidecar rows
    * for files that disappeared are dropped, so the refreshed sidecar
    * always equals what a full [[writeSidecar]] rebuild would produce on
    * the current tree (spec-pinned). Returns (new files, files dropped);
    * (0, 0) means the sidecar was already current and nothing was
    * rewritten. A table never mapped before degenerates to the full
    * build (every file is new).
    *
    * Driver-side, the sidecar write included, for a BIGINT/INT column:
    * the tree is listed with the Hadoop FileSystem API, the old sidecar
    * read with parquet-hadoop, each new file's n_rows/min/max come from
    * its parquet footer (row-group counts and statistics), and the merged
    * rows are written by [[ParquetFooters.write]] — no Spark job. Other
    * column types, partition columns and files written without
    * statistics keep the scan and a Spark write. */
  def appendSidecar(spark: SparkSession, path: String, byCol: String): (Int, Int) = {
    // the sidecar holds the `input_file_name()` spelling (file:///…) —
    // compare on URI paths so any spelling of one file matches
    def norm(f: String): String =
      try new java.net.URI(f).getPath catch { case _: Exception => f }
    spark.catalog.refreshByPath(path)
    // a table whose every file was deleted (full compaction, delete-all)
    // lists no files — the merge then drops every stale sidecar row
    val current = ParquetFooters.files(spark, path)
      .map(f => f.toUri.toString -> f).toMap
    val currentNorm = current.keySet.map(norm)
    val zdir = zonemapDir(path)
    // the old sidecar is O(files) rows — small enough to hold on the
    // driver, which also sidesteps overwrite-while-reading on zdir
    val old = readZones(spark, zdir)
    val oldRows = old.fold(Seq.empty[Row])(_._2)
    val oldNorm = oldRows.map(r => norm(r.getString(0))).toSet
    val newFiles = current.keys.filterNot(f => oldNorm.contains(norm(f)))
      .toSeq.sorted
    val kept = oldRows.filter(r => currentNorm.contains(norm(r.getString(0))))
    val dropped = oldRows.length - kept.length
    if (newFiles.isEmpty && dropped == 0) return (0, 0)
    val footed = newFiles.map(f => footerZone(spark, f, current(f), byCol))
    val types = (footed.flatten.map(_._1) ++ old.map(_._1("zmin").dataType))
      .distinct
    if (footed.forall(_.isDefined) && types.size <= 1) {
      val schema = old.map(_._1).getOrElse(zoneSchema(types.head))
      ParquetFooters.write(spark, zdir, schema, footed.flatMap(_.get._2) ++ kept,
        overwrite = true)
    } else {
      val scanned = spark.read.option("basePath", path).parquet(newFiles: _*)
        .select(input_file_name().as("file"), col(byCol))
        .groupBy("file")
        .agg(min(byCol).as("zmin"), max(byCol).as("zmax"),
          count(lit(1)).as("n_rows"))
      old.fold(scanned)(o =>
        scanned.unionByName(spark.createDataFrame(kept.asJava, o._1)))
        .coalesce(1).write.mode("overwrite").parquet(zdir)
    }
    (newFiles.size, dropped)
  }

  private def zoneSchema(t: DataType): StructType = StructType(Seq(
    StructField("file", StringType), StructField("zmin", t),
    StructField("zmax", t), StructField("n_rows", LongType)))

  /** The Spark type of a plain (unannotated) INT64/INT32 parquet column —
    * the only types whose footer statistics serve a zone. */
  private def footerType(t: org.apache.parquet.schema.Type): Option[DataType] =
    if (!t.isPrimitive || t.getLogicalTypeAnnotation != null ||
        t.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)) None
    else t.asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 => Some(LongType)
      case PrimitiveTypeName.INT32 => Some(IntegerType)
      case _ => None
    }

  /** One file's sidecar row from its footer: (type, row), the row absent
    * for a zero-row file (a scan groups no rows for it) and its zone null
    * when every value is null. None when the footer cannot serve the
    * zone: not a top-level BIGINT/INT column of the file, or a row group
    * without statistics. */
  private def footerZone(spark: SparkSession, file: String, p: Path,
      byCol: String): Option[(DataType, Option[Row])] = {
    val f = ParquetFooters.footer(spark, p)
    val schema = f.getFileMetaData.getSchema
    if (!schema.containsField(byCol)) return None
    footerType(schema.getType(schema.getFieldIndex(byCol))).flatMap { t =>
      val blocks = f.getBlocks.asScala.toSeq
      val stats = blocks.map(_.getColumns.asScala
        .find(_.getPath.toArray.sameElements(Array(byCol)))
        .map(_.getStatistics).filter(st => st != null && !st.isEmpty))
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0) Some((t, None))
      else if (stats.exists(_.isEmpty)) None
      else {
        val vals = stats.flatten.filter(_.hasNonNullValue)
        def box(v: Long): Any = if (t == IntegerType) v.toInt else v
        val (lo, hi) =
          if (vals.isEmpty) (null, null)
          else (box(vals.map(_.genericGetMin.asInstanceOf[Number].longValue).min),
            box(vals.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
        Some((t, Some(Row(file, lo, hi, rows))))
      }
    }
  }

  /** The current sidecar at `zdir` (schema, rows), or None when there is
    * none. Integer zones decode on the driver; a sidecar keyed by another
    * type is read through Spark. */
  private def readZones(spark: SparkSession,
      zdir: String): Option[(StructType, Seq[Row])] =
    ParquetFooters.files(spark, zdir).nextOption().map { first =>
      val zs = ParquetFooters.footer(spark, first).getFileMetaData.getSchema
      val zt = zs.getType(zs.getFieldIndex("zmin"))
      footerType(zt) match {
        case Some(t) =>
          def zone(g: Group, f: String): Any =
            if (g.getFieldRepetitionCount(f) == 0) null
            else if (t == IntegerType) g.getInteger(f, 0) else g.getLong(f, 0)
          (zoneSchema(t), ParquetFooters.rows(spark, zdir).map(g =>
            Row(g.getString("file", 0), zone(g, "zmin"), zone(g, "zmax"),
              g.getLong("n_rows", 0))))
        case None =>
          spark.catalog.refreshByPath(zdir)
          val df = spark.read.parquet(zdir).select("file", "zmin", "zmax", "n_rows")
          (df.schema, df.collect().toSeq)
      }
    }

  /** The files whose [zmin, zmax] zone intersects [lo, hi], plus the
    * total file count — the pruning decision itself, exposed for specs
    * and scan planning. O(files) work, no data read. */
  def planFiles(spark: SparkSession, path: String,
      lo: Long, hi: Long): (Seq[String], Int) = {
    val zm = longZones(spark, path, "planFiles/readRange serve long ranges only")
    val keep = zm.filter(r => !r.isNullAt(1) &&
      r.getLong(2) >= lo && r.getLong(1) <= hi)
    (keep.map(_.getString(0)), zm.length)
  }

  /** The sidecar's (file, zmin, zmax, n_rows) rows, O(files), read on the
    * driver by [[readZones]] — no Spark job for BIGINT zones. The long
    * APIs need long zones: a sidecar built on another type would
    * otherwise surface as a bare ClassCastException per row. */
  private def longZones(spark: SparkSession, path: String,
      serves: String): Seq[Row] = {
    val (schema, rows) = readZones(spark, zonemapDir(path)).getOrElse(
      throw new IllegalArgumentException(s"no zone map at ${zonemapDir(path)}"))
    require(schema("zmin").dataType == LongType,
      s"zone map at $path is keyed by ${schema("zmin").dataType.sql}, " +
        s"not BIGINT — $serves")
    rows
  }

  /** Key-SET pruning (r10; join shape bin-decomposed r11): the files
    * whose [zmin, zmax] zone contains at least one of `keys` — the
    * point-lookup sibling of [[planFiles]]'s single interval, for
    * probe-style reads (a batch's bigram hashes against a standing LM
    * table, a CDC batch's keys against a snapshot). The containment join
    * is NOT a keys×zones nested loop (O(|batch| × |mapped files|) range
    * predicates — the planning join itself would become the append
    * bottleneck once the standing table maps 10⁴⁺ files): it is the
    * E17/G28 bin decomposition. Both sides land in power-of-two bins via
    * an arithmetic right shift sized to the WIDEST zone — so every zone
    * covers at most two bins, the exploded broadcast is ≤ 2·files rows,
    * and each key equi-joins only the zones sharing its bin, with the
    * exact [zmin, zmax] check as the residual. Planning cost is
    * O(|keys| + files), whole-stage-codegen hash join throughout
    * (plan-pinned in ZoneMapSpec). On a range-clustered layout the kept
    * file count is ≤ min(files, distinct keys): a bounded probe stays
    * bounded no matter how large the standing table grows, which is the
    * difference between an incremental job's cost tracking its batch and
    * tracking the corpus. Returns (kept files, total mapped files). */
  def planFilesForKeys(spark: SparkSession, path: String,
      keys: DataFrame): (Seq[String], Int) = {
    val zm = longZones(spark, path, "planFilesForKeys serves long keys only")
    val zones = zm.filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    if (zones.isEmpty) return (Seq.empty, zm.length)
    val kept = keyProbeMatches(spark, keys, zones)
      .select("file").distinct()
      .collect().map(_.getString(0)).toSeq
    (kept, zm.length)
  }

  /** The bin-decomposed containment join behind [[planFilesForKeys]],
    * exposed (package-private) so the spec can pin its plan shape and
    * its floor-division semantics on negative domains. Returns the
    * matched (k, file) pairs (pre-distinct). The shift is the smallest s
    * with 2^s ≥ the widest zone: an arithmetic right shift is exact
    * floor division by 2^s for ANY signed long — no subtraction, so no
    * overflow on domains spanning the full int64 range (where a
    * (k − lo) rebasing would wrap). Degenerate layouts stay correct:
    * one zone spanning ~the whole domain forces s → 63, collapsing to
    * ≤ 2 bins — the broadcast-everything cost the legacy nested loop
    * paid always, now paid only when pruning is hopeless anyway. */
  private[graft] def keyProbeMatches(spark: SparkSession, keys: DataFrame,
      zones: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    val widest = zones.map(z => BigInt(z._3) - BigInt(z._2) + 1).max
    val shift = (0 to 62).find(s => (BigInt(1) << s) >= widest).getOrElse(63)
    val binned = zones.flatMap { case (f, zmin, zmax) =>
      ((zmin >> shift) to (zmax >> shift)).map(b => (b, f, zmin, zmax))
    }.toDF("bin", "file", "zmin", "zmax")
    keys.toDF("k").distinct()
      .withColumn("bin", shiftright(col("k"), shift))
      .join(broadcast(binned), "bin")
      .filter(col("k") >= col("zmin") && col("k") <= col("zmax"))
      .select("k", "file")
  }

  /** Probe read served through the zone map: only files whose zone holds
    * at least one key reach the parquet reader. The caller's own
    * equi-join supplies the residual row filter (zones admit whole
    * files). An empty kept list reads nothing but keeps the schema. */
  def readForKeys(spark: SparkSession, path: String,
      keys: DataFrame): DataFrame = {
    val (files, _) = planFilesForKeys(spark, path, keys)
    if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.option("basePath", path).parquet(files: _*)
  }

  /** Range scan served through the zone map: only overlapping files are
    * handed to the parquet reader; the residual row filter still applies
    * (zones admit whole files, rows inside still need the predicate). */
  def readRange(spark: SparkSession, path: String, byCol: String,
      lo: Long, hi: Long): DataFrame = {
    val (files, _) = planFiles(spark, path, lo, hi)
    if (files.isEmpty) {
      spark.read.parquet(path).filter(lit(false))
    } else {
      // basePath keeps directory-partition columns (e.g. source=…) in
      // the schema when individual files are handed to the reader
      spark.read.option("basePath", path).parquet(files: _*)
        .filter(col(byCol) >= lo && col(byCol) <= hi)
    }
  }
}
