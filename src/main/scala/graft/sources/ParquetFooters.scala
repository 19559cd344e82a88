package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.jdk.CollectionConverters._

/** Driver-side parquet access through parquet-hadoop: data-file listing
  * (and scans built over that listing), footers, the schema Spark's
  * inference would give a table, whole reads of small datasets (the
  * store's frozen K-row codebooks and cell summaries, the O(files) zone
  * map, an edit's staged docs) and whole writes of rows already on the
  * driver (those sidecars, an edit's staged copy, a lexical generation's
  * doclog rows and postings).
  * Nothing here starts a Spark job or infers a schema, where a
  * `spark.read … collect()` of a sidecar costs an inference job plus a
  * collect job each, and a `createDataFrame(rows).write` a write job —
  * the fixed cost that dominated a small store append. */
object ParquetFooters {

  // the session's own Hadoop conf throughout: the parquet-hadoop
  // defaults build a fresh Configuration per file, which re-parses the
  // default XML resources every time
  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def sqlConf(spark: SparkSession): SQLConf = classic(spark).sessionState.conf

  /** Spark's file-index rule: `_`- and `.`-prefixed names are not data
    * (a `_` name holding `=` is a partition directory). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The statuses of the data files under `dir`, depth-first in name
    * order, lazily — qualified paths whose `toUri.toString` is the
    * `input_file_name()` spelling. A missing `dir` has none. */
  def statuses(spark: SparkSession, dir: String): Iterator[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf(spark))
    def walk(p: Path): Iterator[FileStatus] =
      fs.listStatus(p).sortBy(_.getPath.getName).iterator
        .filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
    if (fs.exists(root)) walk(root) else Iterator.empty
  }

  /** The paths of [[statuses]]. */
  def files(spark: SparkSession, dir: String): Iterator[Path] =
    statuses(spark, dir).map(_.getPath)

  /** A parquet scan of exactly `files` (statuses already listed) under
    * `basePath`, whose partition columns come from the directory names,
    * declared with `schema` (data fields, then partition fields). The
    * file index is built over the given statuses, so Spark lists nothing:
    * no parallel-listing job past 32 paths, no existence checks. The
    * statuses are this call's alone; nothing is cached across calls. */
  def scan(spark: SparkSession, basePath: String, files: Seq[FileStatus],
      schema: StructType): DataFrame = {
    val listed = files.map(st => st.getPath -> Array(st)).toMap
    val given = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        listed.get(path)
      override def putLeafFiles(path: Path, leaves: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), options,
      Some(schema), given)
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(f => parts.fieldNames.contains(f.name)))
    classic(spark).baseRelationToDataFrame(HadoopFsRelation(index, parts, data,
      None, new ParquetFileFormat, options)(spark))
  }

  /** Every row of a small parquet dataset as a driver-local frame (a
    * `LocalRelation`), read on the driver by Spark's own parquet reader —
    * the read twin of [[write]]: the schema is the one the first file's
    * footer records, every field nullable as a scan reads it, and the
    * values are what a scan returns. No Spark job; fails loudly when
    * `dir` holds no data file. */
  def local(spark: SparkSession, dir: String): DataFrame = {
    val found = statuses(spark, dir).toVector
    require(found.nonEmpty, s"parquet dataset $dir holds no data file")
    val schema = sparkSchema(spark, found.head.getPath)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, new StructType, schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf(spark))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = found.flatMap(st => read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty[String],
        st.getModificationTime, st.getLen))
      .map(r => toRow(r).asInstanceOf[Row]))
    spark.createDataFrame(rows.asJava, schema)
  }

  def footer(spark: SparkSession, file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf(spark)),
      HadoopReadOptions.builder(conf(spark)).build())
    try r.getFooter finally r.close()
  }

  /** Top-level column names of the first data file under `dir` — the
    * schema of a dataset whose writers keep one schema (a store's format
    * version and its meta rule guarantee that). None when `dir` holds no
    * data file. */
  def fieldNames(spark: SparkSession, dir: String): Option[Set[String]] =
    files(spark, dir).nextOption().map(f =>
      footer(spark, f).getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet)

  /** The data schema `spark.read.parquet(path)` infers (summary files
    * aside): Spark's rule reads the footer of the first data file in path
    * order, through `ParquetFileFormat.readSchemaFromFooter` with a
    * converter built from the session's SQL conf — so the Spark row
    * metadata, `inferTimestampNTZ` and `nanosAsLong` apply exactly as
    * they do there. A reader that declares it runs no inference job.
    * None when `path` holds no data file. */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] =
    files(spark, path).minByOption(_.toString).map { f =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer(spark, f)),
        new ParquetToSparkSchemaConverter(sqlConf(spark)))
    }

  /** The (min, max) of an integral `column` in `file`, from the footer
    * statistics of its non-empty row groups. None when the file holds no
    * rows; a row group without statistics for it fails loudly. */
  def longBounds(spark: SparkSession, file: Path,
      column: String): Option[(Long, Long)] =
    footer(spark, file).getBlocks.asScala.filter(_.getRowCount > 0).map { g =>
      val st = g.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
      require(st.isDefined, s"a row group of $file has no `$column` statistics")
      (st.get.genericGetMin.asInstanceOf[Number].longValue,
        st.get.genericGetMax.asInstanceOf[Number].longValue)
    }.reduceOption((a, b) => (a._1 min b._1, a._2 max b._2))

  /** The largest value of an integral `column` under `dir` ([[longBounds]]
    * over every data file). None when `dir` holds no rows. */
  def maxLong(spark: SparkSession, dir: String, column: String): Option[Long] =
    files(spark, dir).flatMap(longBounds(spark, _, column)).map(_._2)
      .reduceOption(_ max _)

  /** The Spark schema `file` was written with (the row metadata Spark
    * stores in every parquet footer it writes), every field nullable as a
    * file scan reads it — so a reader can declare it and skip the
    * schema-inference job. */
  def sparkSchema(spark: SparkSession, file: Path): StructType = {
    val json = footer(spark, file).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    require(json != null, s"$file carries no Spark schema in its footer")
    nullable(DataType.fromJson(json)).asInstanceOf[StructType]
  }

  /** `t` with every field, element and map value nullable. */
  def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  /** Every row of a small parquet dataset, in file order. Fails loudly
    * when `dir` does not exist, as `spark.read.parquet` does. */
  def rows(spark: SparkSession, dir: String): Seq[Group] = {
    val root = new Path(dir)
    require(root.getFileSystem(conf(spark)).exists(root),
      s"parquet dataset $dir does not exist")
    files(spark, dir).flatMap { f =>
      val r = new ParquetReader.Builder[Group](
          HadoopInputFile.fromPath(f, conf(spark)),
          new HadoopParquetConfiguration(conf(spark))) {
        override protected def getReadSupport(): ReadSupport[Group] =
          new GroupReadSupport
      }.build()
      try Iterator.continually(r.read()).takeWhile(_ != null).toVector
      finally r.close()
    }.toVector
  }

  /** Write `rows` (of `schema`) as one parquet file under `dir`, on the
    * driver — the write twin of [[rows]]. Spark's own parquet writer
    * (`ParquetUtils.prepareWrite` over the session's SQL conf, then the
    * factory's `OutputWriter`) writes it, so the file carries the encoding,
    * codec, statistics and Spark row metadata a Spark write gives the
    * same schema. It lands under a hidden `.`-prefixed name, which every
    * reader ignores; then `overwrite` deletes everything else in `dir`
    * (the old data files, a cut write's leftovers), and the file is
    * renamed in. A cut write is never visible, and no reader sees two
    * generations of an overwritten dataset. Returns the file. */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row], overwrite: Boolean): Path = {
    val job = Job.getInstance(conf(spark))
    val factory = ParquetUtils.prepareWrite(sqlConf(spark), job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf(spark)))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID)
    val root = new Path(dir)
    val fs = root.getFileSystem(job.getConfiguration)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val tmp = new Path(root, s".$name")
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val out = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(r => out.write(toInternal(r).asInstanceOf[InternalRow]))
    finally out.close()
    if (overwrite) fs.listStatus(root).map(_.getPath)
      .filter(_.getName != tmp.getName).foreach(fs.delete(_, true))
    val fin = new Path(root, name)
    require(fs.rename(tmp, fin), s"could not rename $tmp to $fin")
    fin
  }

  /** An array<bigint> column of a row: the LIST group's one repeated
    * field, each entry's element (the three-level standard layout and
    * both legacy layouts). */
  def longs(g: Group, field: String): Array[Long] = {
    val list = g.getGroup(field, 0)
    val flat = list.getType.getType(0).isPrimitive
    Array.tabulate(list.getFieldRepetitionCount(0))(i =>
      if (flat) list.getLong(0, i) else list.getGroup(0, i).getLong(0, 0))
  }
}
