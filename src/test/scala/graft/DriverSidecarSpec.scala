package graft

import java.nio.file.Files

import graft.operators.{Quantizers, VectorStore}
import graft.sources.{ParquetFooters, Tables, ZoneMaps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Files whose rows are already on the driver — the zone map's footer
  * branch, a lexical generation's doclog rows and postings, a new store's
  * frozen artifacts, an edit's staged copy — are written on the driver by
  * [[ParquetFooters.write]].
  * Each file must carry what a Spark write of the same frame gives it:
  * the parquet schema (required/optional included), the Spark row
  * metadata (nullability included), the codec and the footer keys. */
class DriverSidecarSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  private val SparkKey = "org.apache.spark.sql.parquet.row.metadata"
  private val zoneSchema = StructType(Seq(StructField("file", StringType),
    StructField("zmin", LongType), StructField("zmax", LongType),
    StructField("n_rows", LongType)))

  // creation writes the frozen sidecars and the zone map; the edit writes
  // one lexical generation (gen 2) through logGeneration
  private lazy val store = {
    val dir = Files.createTempDirectory("graft_dsc").toString + "/index"
    VectorStore.ingest(Tables.documents(spark, sf).filter(col("doc_id") < 30), dir)
    VectorStore.edit(spark, dir, Seq(3L, 40L), Tables.documents(spark, sf)
      .filter(col("doc_id").isin(3L, 40L)).select("doc_id", "text"))
    dir
  }

  /** (parquet schema, Spark row metadata, codec, footer keys) of `file`. */
  private def shape(file: Path): (String, DataType, String, Set[String]) = {
    val f = ParquetFooters.footer(spark, file)
    val meta = f.getFileMetaData
    (meta.getSchema.toString, DataType.fromJson(meta.getKeyValueMetaData.get(SparkKey)),
      f.getBlocks.get(0).getColumns.get(0).getCodec.toString,
      meta.getKeyValueMetaData.keySet.toArray.map(_.toString).toSet)
  }

  /** The shape a Spark write of `df` (one file) gives. */
  private def sparkShape(df: DataFrame) = {
    val d = Files.createTempDirectory("graft_dsc_ref").toString + "/t"
    df.coalesce(1).write.parquet(d)
    shape(ParquetFooters.files(spark, d).next())
  }

  private def only(dir: String): Path = {
    val fs = ParquetFooters.files(spark, dir).toSeq
    assert(fs.size == 1, s"$dir holds ${fs.size} data files")
    fs.head
  }

  test("driver-written sidecars have the schema of the Spark-written ones") {
    val cb = Quantizers.frame(spark, Seq((0, 0, Array(1L, 2L))))
    Seq(
      "_graft_pq/codebook.parquet" -> cb,
      "_graft_pq/rescb.parquet" -> cb,
      "_graft_pq/perm.parquet" -> Seq((0, 1)).toDF("p", "src"),
      "_graft_cells/centroids.parquet" ->
        Seq((0, Seq(1L, 2L), 3L)).toDF("cell", "csum", "n"),
      "_graft_zonemap" -> spark.createDataFrame(
        java.util.List.of(Row("file:/f", 1L, 2L, 3L)), zoneSchema)
    ).foreach { case (rel, ref) =>
      assert(shape(only(s"$store/$rel")) == sparkShape(ref), rel)
    }
    val doclog = s"$store/_graft_lex/doclog"
    val gen2 = ParquetFooters.files(spark, doclog).filter(f =>
      ParquetFooters.longBounds(spark, f, "gen").exists(_._2 == 2L)).toSeq
    assert(gen2.size == 1, s"the edit's doclog generation: $gen2")
    assert(shape(gen2.head) == sparkShape(Seq((1L, 2L, true, 3L, 4L))
      .toDF("doc_id", "gen", "live", "n_chunks", "n_tokens")))
  }

  test("the edit's staged copy and postings files have the Spark write's schema") {
    // postings: the creation's generation (gen 1) is a Spark write, the
    // edit's (gen 2) is written on the driver, one file per tbkt
    val (edit, created) = ParquetFooters.files(spark, s"$store/_graft_lex/postings")
      .toSeq.partition(f => ParquetFooters.longBounds(spark, f, "gen").exists(_._1 == 2L))
    assert(edit.nonEmpty && created.nonEmpty, s"postings: $edit / $created")
    assert(edit.groupBy(_.getParent).values.forall(_.size == 1), edit)
    val ref = shape(created.head)
    edit.foreach(f => assert(shape(f) == ref, f))
    // the staged copy, with and without meta
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 5)
      .select("doc_id", "text")
    Seq(docs, docs.withColumn("meta", map(lit("k"), col("text")))).foreach { d =>
      val staged = Files.createTempDirectory("graft_dsc_stage").toString + "/s"
      VectorStore.stageDocs(spark, staged, graft.sources.LocalFrames.of(d))
      assert(shape(only(staged)) == sparkShape(d), d.columns.toSeq)
    }
  }

  test("the driver-written doclog serves the same next generation") {
    val doclog = s"$store/_graft_lex/doclog"
    spark.catalog.refreshByPath(doclog)
    val scanned = spark.read.parquet(doclog).agg(max("gen")).head().getLong(0)
    assert(ParquetFooters.maxLong(spark, doclog, "gen").contains(scanned))
    assert(scanned == 2L)
  }

  test("a cut write's hidden file is invisible; the next upkeep replaces the zone map") {
    val base = Files.createTempDirectory("graft_dsc_cut").toString
    val p = s"$base/t"
    val zdir = s"$p/_graft_zonemap"
    (0 until 20).map(i => (i.toLong, i)).toDF("l", "i").repartition(2)
      .write.parquet(p)
    assert(ZoneMaps.appendSidecar(spark, p, "l")._1 == 2)
    val before = ZoneMaps.planFiles(spark, p, Long.MinValue, Long.MaxValue)
    // a write cut before its rename: the hidden temp file stays behind
    val cut = ParquetFooters.write(spark, s"$base/scratch", zoneSchema,
      Seq(Row("file:/nowhere", 0L, 1L, 5L)), overwrite = true)
    val fs = cut.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(cut, new Path(zdir, s".${cut.getName}")))
    assert(ZoneMaps.planFiles(spark, p, Long.MinValue, Long.MaxValue) == before)
    assert(ParquetFooters.files(spark, zdir).size == 1)
    spark.catalog.refreshByPath(zdir)
    assert(spark.read.parquet(zdir).count() == 2)
    // the next upkeep writes one zone map over three files, hidden file gone
    (20 until 30).map(i => (i.toLong, i)).toDF("l", "i").coalesce(1)
      .write.mode("append").parquet(p)
    val (counts, trace) = JobCounter(spark)(ZoneMaps.appendSidecar(spark, p, "l"))
    assert(counts == ((1, 0)) && trace.jobs == 0,
      s"footer-branch upkeep: $counts, ${trace.jobs} jobs")
    val left = new java.io.File(zdir).list().filterNot(_.endsWith(".crc"))
    assert(left.length == 1 && left.head.startsWith("part-"), left.toSeq)
    assert(ZoneMaps.planFiles(spark, p, Long.MinValue, Long.MaxValue)._2 == 3)
    spark.catalog.refreshByPath(zdir)
    val inc = spark.read.parquet(zdir).collect().map(_.toString).sorted.toSeq
    ZoneMaps.writeSidecar(spark, p, "l")
    spark.catalog.refreshByPath(zdir)
    assert(inc == spark.read.parquet(zdir).collect().map(_.toString).sorted.toSeq)
  }
}
