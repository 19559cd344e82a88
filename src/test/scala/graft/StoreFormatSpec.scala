package graft

import graft.operators.{VectorStore, VectorStoreLex}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The store format version: creation writes the `_graft_store.json`
  * marker (overwrite ingest, append into a missing dir), every mutation
  * keeps it, and every operation on a store without it — or with another
  * version — is refused with one message before any Spark job, leaving
  * the store's files untouched. An overwrite ingest re-creates such a
  * store, which then serves. Refused stores are copies of this suite's
  * fixture. */
class StoreFormatSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  private lazy val store = {
    val dir = Files.createTempDirectory("graft_fmt").toString + "/index"
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 30), dir) > 0)
    assert(VectorStore.buildGraph(spark, dir) > 0)
    dir
  }

  private def marker(dir: String): String = {
    val f = Paths.get(s"$dir/${OldStore.Marker}")
    assert(Files.exists(f), s"no format marker in $dir")
    new String(Files.readAllBytes(f), "UTF-8")
  }

  private def rows(dir: String): Seq[String] = {
    spark.catalog.refreshByPath(dir)
    spark.read.parquet(dir).drop("embedding").collect().map(_.toString)
      .sorted.toSeq
  }

  test("creation writes the marker: overwrite ingest and append into a missing dir") {
    assert(marker(store) == """{"format":1}""")
    // a `_` name: not a data file to Spark
    assert(!spark.read.parquet(store).inputFiles.exists(_.contains("_graft_store")))
    val fresh = Files.createTempDirectory("graft_fmt_new").toString + "/index"
    assert(!Files.exists(Paths.get(fresh)))
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 5), fresh,
      mode = "append") > 0)
    assert(marker(fresh) == """{"format":1}""")
    val sample = spark.read.parquet(fresh).select("chunk").head().getString(0)
    assert(VectorStore.search(spark, fresh, sample, k = 3).count() > 0)
  }

  test("delete, edit, retrainCells and compactLex keep the marker") {
    val dir = OldStore.copy(store, "keep")
    val edited = docs.filter(col("doc_id") === 40)
      .select(lit(7L).as("doc_id"), col("text"))
    assert(VectorStore.delete(spark, dir, Seq(3L)) > 0)
    assert(marker(dir) == """{"format":1}""", "delete")
    VectorStore.edit(spark, dir, Seq(7L), edited)
    assert(marker(dir) == """{"format":1}""", "edit")
    assert(VectorStore.retrainCells(spark, dir) > 0)
    assert(marker(dir) == """{"format":1}""", "retrainCells")
    assert(!Files.exists(Paths.get(s"$dir/_graft_retrain")))
    VectorStoreLex.compactLex(spark, dir)
    assert(marker(dir) == """{"format":1}""", "compactLex")
    assert(VectorStore.recover(spark, dir) == 0)
    assert(VectorStore.searchCells(spark, dir, "anything", k = 3).count() > 0)
  }

  /** Every write, every read route (single and batch) and IngestJob.run
    * against the store at `dir`, whose parent is an IngestJob out dir. */
  private def everyOp(dir: String): Seq[(String, () => Any)] = {
    import VectorStore._
    val batch = docs.filter(col("doc_id") >= 30 && col("doc_id") < 33)
    val pred = col("doc_id") > 0
    val q = "the quick fox"
    val qs = Seq(q, "alpha beta")
    Seq(
      "append" -> (() => ingest(batch, dir, mode = "append")),
      "edit" -> (() => edit(spark, dir, Seq(3L), batch)),
      "delete" -> (() => delete(spark, dir, Seq(3L))),
      "retrainCells" -> (() => retrainCells(spark, dir)),
      "recover" -> (() => recover(spark, dir)),
      "buildGraph" -> (() => buildGraph(spark, dir)),
      "spliceGraph" -> (() => spliceGraph(spark, dir, Seq(3L))),
      "spliceGraphDelete" -> (() => spliceGraphDelete(spark, dir, Seq(3L))),
      "compactLex" -> (() => VectorStoreLex.compactLex(spark, dir)),
      "search" -> (() => search(spark, dir, q)),
      "searchBatch" -> (() => searchBatch(spark, dir, qs)),
      "searchTagRange" -> (() => searchTagRange(spark, dir, q, 0L, 0L)),
      "searchTagRangeBatch" -> (() => searchTagRangeBatch(spark, dir, qs, 0L, 0L)),
      "searchDiverse" -> (() => searchDiverse(spark, dir, q)),
      "searchDiverseBatch" -> (() => searchDiverseBatch(spark, dir, qs)),
      "searchCompressed" -> (() => searchCompressed(spark, dir, q)),
      "searchCompressedBatch" -> (() => searchCompressedBatch(spark, dir, qs)),
      "searchTruncated" -> (() => searchTruncated(spark, dir, q)),
      "searchTruncatedBatch" -> (() => searchTruncatedBatch(spark, dir, qs)),
      "searchCells" -> (() => searchCells(spark, dir, q)),
      "searchCellsBatch" -> (() => searchCellsBatch(spark, dir, qs)),
      "searchCellsFiltered" -> (() => searchCellsFiltered(spark, dir, q, pred)),
      "searchCellsFilteredBatch" ->
        (() => searchCellsFilteredBatch(spark, dir, qs, pred)),
      "searchCompressedCells" -> (() => searchCompressedCells(spark, dir, q)),
      "searchCompressedCellsBatch" ->
        (() => searchCompressedCellsBatch(spark, dir, qs)),
      "searchSq8Cells" -> (() => searchSq8Cells(spark, dir, q)),
      "searchSq8CellsBatch" -> (() => searchSq8CellsBatch(spark, dir, qs)),
      "searchRpCells" -> (() => searchRpCells(spark, dir, q)),
      "searchRpCellsBatch" -> (() => searchRpCellsBatch(spark, dir, qs)),
      "searchGraph" -> (() => searchGraph(spark, dir, q)),
      "searchGraphBatch" -> (() => searchGraphBatch(spark, dir, qs)),
      "searchGraphSq8" -> (() => searchGraphSq8(spark, dir, q)),
      "searchGraphSq8Batch" -> (() => searchGraphSq8Batch(spark, dir, qs)),
      "searchLex" -> (() => VectorStoreLex.searchLex(spark, dir, q)),
      "searchLexBatch" -> (() => VectorStoreLex.searchLexBatch(spark, dir, qs)),
      "searchHybrid" -> (() => VectorStoreLex.searchHybrid(spark, dir, q)),
      "searchHybridBatch" ->
        (() => VectorStoreLex.searchHybridBatch(spark, dir, qs)),
      "searchHybridFiltered" ->
        (() => VectorStoreLex.searchHybridFiltered(spark, dir, q, pred)),
      "searchHybridFilteredBatch" ->
        (() => VectorStoreLex.searchHybridFilteredBatch(spark, dir, qs, pred)),
      "searchPhrase" -> (() => VectorStoreLex.searchPhrase(spark, dir, q)),
      "searchPhraseBatch" ->
        (() => VectorStoreLex.searchPhraseBatch(spark, dir, qs)),
      "IngestJob.run" ->
        (() => IngestJob.run(spark, sf, Paths.get(dir).getParent.toString)))
  }

  test("a store without the marker is refused by every operation, " +
      "with no job and no file touched") {
    val dir = OldStore.unmarked(spark, store, "none")
    val ops = everyOp(dir)
    OldStore.assertRefused(spark, dir, "none",
      Some(Paths.get(dir).getParent.toString))(ops: _*)
  }

  test("a store marked with another format version is refused by every " +
      "operation, with no job and no file touched") {
    val dir = OldStore.versioned(spark, store, "v2", version = 2)
    val ops = everyOp(dir)
    OldStore.assertRefused(spark, dir, "2",
      Some(Paths.get(dir).getParent.toString))(ops: _*)
  }

  test("an overwrite ingest re-creates a refused store, which then serves") {
    val dir = OldStore.unmarked(spark, store, "upgrade")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 30), dir) > 0)
    assert(marker(dir) == """{"format":1}""")
    assert(rows(dir) == rows(store), "re-created store differs from creation")
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hit = VectorStore.search(spark, dir, sample, k = 3).collect().head
    assert(hit.getAs[Long]("doc_id") == 3L && hit.getAs[Int]("chunk_ix") == 1)
    assert(VectorStoreLex.searchHybrid(spark, dir, sample, k = 3)
      .collect().head.getAs[Long]("doc_id") == 3L)
  }
}
