package graft

import java.nio.file.Files

import graft.operators.VectorStore
import graft.sources.{LocalFrames, ParquetFooters, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** An edit batch is held on the driver: its staged copy, its encode input
  * and its lexical generation are local relations, and Spark folds the
  * projections over them through interpreted `eval`, where a file-backed
  * frame runs the same expressions through codegen. The stored rows (the
  * embedding and every code column: PQ, residual, SQ8 and RP), the
  * postings and the doclog must not tell the two apart. Also pins the
  * listing-free index read: a tag-range read over more data files than
  * Spark's parallel-listing threshold (32) builds with no job. */
class DriverBatchSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def docs(lo: Long, hi: Long): DataFrame = Tables.documents(spark, sf)
    .filter(col("doc_id") >= lo && col("doc_id") < hi).select("doc_id", "text")

  private def withMeta(df: DataFrame): DataFrame = df.withColumn("meta", map(
    lit("channel"), concat(lit("ch"), pmod(col("doc_id"), lit(4)).cast("string"))))

  /** The rows of the parquet dataset `dir` kept by `keep`, `cols` in `key`
    * order, as strings: a double prints exactly, so equal strings are
    * equal bits. */
  private def dump(dir: String, keep: org.apache.spark.sql.Column,
      cols: Seq[String], key: Seq[String]): Seq[String] = {
    spark.catalog.refreshByPath(dir)
    spark.read.parquet(dir).filter(keep).select(cols.map(col): _*)
      .orderBy(key.map(col): _*).collect().map(_.toString).toSeq
  }

  /** Store `a` takes the batch through [[VectorStore.edit]] from a
    * driver-local frame; its copy `b` deletes the ids and appends the
    * same docs read from a parquet file. Index rows (every column), the
    * batch's postings and its keep-latest doclog rows must be equal. */
  private def parity(meta: Boolean): Unit = {
    val m: DataFrame => DataFrame = if (meta) withMeta else identity
    val base = Files.createTempDirectory("graft_dbs").toString
    val (a, b) = (s"$base/a", s"$base/b")
    assert(VectorStore.ingest(m(docs(0, 40)), a) > 0)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(a),
      new java.io.File(b))
    // 3 and 7 re-written, 45 and 46 new, 9 removed
    val ids = Seq(3L, 7L, 9L, 45L, 46L)
    m(docs(0, 50).filter(col("doc_id").isin(3L, 7L, 45L, 46L))
      .withColumn("text", when(col("doc_id") < 40,
        concat(col("text"), lit(" revised once more"))).otherwise(col("text"))))
      .coalesce(1).write.parquet(s"$base/batch")
    val file = spark.read.parquet(s"$base/batch")
    val held = LocalFrames.of(file)
    assert(held.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    VectorStore.edit(spark, a, ids, held, batchTag = 5L)
    VectorStore.delete(spark, b, ids)
    VectorStore.ingest(file, b, mode = "append", batchTag = 5L)

    val cols = spark.read.parquet(a).columns.toSeq.sorted
    assert(cols.toSet.contains("meta") == meta, cols)
    Seq("embedding", "codes", "rcodes", "scodes", "pcodes").foreach(c =>
      assert(cols.contains(c), s"no $c column: $cols"))
    val all = lit(true)
    val rowsA = dump(a, all, cols, Seq("doc_id", "chunk_ix"))
    assert(rowsA.exists(_.contains("revised once more")) &&
      rowsA == dump(b, all, cols, Seq("doc_id", "chunk_ix")))
    val batchRows = col("doc_id").isin(ids: _*)

    // the batch's postings: gen 1 is the creation's, the batch's are above
    val pcols = Seq("doc_id", "chunk_ix", "term", "tf", "dl", "positions", "tbkt")
    val newer = batchRows && col("gen") > 1L
    val postA = dump(s"$a/_graft_lex/postings", newer, pcols, pcols.take(3))
    assert(postA.nonEmpty &&
      postA == dump(s"$b/_graft_lex/postings", newer, pcols, pcols.take(3)))
    // the keep-latest doclog row of each id, generation aside
    def latest(dir: String): Seq[String] = {
      spark.catalog.refreshByPath(s"$dir/_graft_lex/doclog")
      val log = spark.read.parquet(s"$dir/_graft_lex/doclog").filter(batchRows)
      log.join(log.groupBy("doc_id").agg(max("gen").as("gen")), Seq("doc_id", "gen"))
        .select("doc_id", "live", "n_chunks", "n_tokens").orderBy("doc_id")
        .collect().map(_.toString).toSeq
    }
    val logA = latest(a)
    assert(logA.size == ids.size && logA == latest(b), logA)
  }

  test("an edit batch held on the driver stores what a file-backed batch stores") {
    parity(meta = false)
  }

  test("... on a meta-carrying store too") {
    parity(meta = true)
  }

  test("a tag-range read of a store past 32 data files builds with no job") {
    val dir = Files.createTempDirectory("graft_dbs_tr").toString + "/index"
    VectorStore.ingest(docs(0, 60), dir, batchTag = 1L)
    VectorStore.ingest(docs(60, 100), dir, mode = "append", batchTag = 2L)
    val n = ParquetFooters.files(spark, dir).size
    assert(n > 32, s"$n data files: the store must pass the listing threshold")
    val q = spark.read.parquet(dir).orderBy("doc_id", "chunk_ix")
      .select("chunk").head().getString(0)
    val (read, trace) = JobCounter(spark)(
      VectorStore.searchTagRange(spark, dir, q, 1L, 2L, k = 5))
    assert(trace.jobs == 0, s"building the tag-range read ran ${trace.jobs} jobs")
    // the full window is the plain search
    val got = read.collect().map(_.toString).toSeq
    assert(got.nonEmpty &&
      got == VectorStore.search(spark, dir, q, k = 5).collect().map(_.toString).toSeq)
    val (batch, trace2) = JobCounter(spark)(
      VectorStore.searchTagRangeBatch(spark, dir, Seq(q, "unseen words"), 1L, 1L))
    assert(trace2.jobs == 0, s"building the batch twin ran ${trace2.jobs} jobs")
    assert(batch.collect().forall(_.getAs[Long]("doc_id") < 60L))
  }
}
