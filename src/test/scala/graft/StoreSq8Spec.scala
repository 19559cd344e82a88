package graft

import graft.operators.VectorStore
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** G44: the store's SQ8 serving rung — ingest-time per-chunk int8 codes
  * (self-scaled, no trained artifact) + cell-probed ADC read with exact
  * re-rank. Pins the code contract, the self-hit, append consistency,
  * and the format-gate refusal of a store older than the sq8 columns. */
class StoreSq8Spec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_sq8").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, d) > 100)
    d
  }

  test("ingest writes self-scaled int8 codes matching the B6 contract") {
    val rows = spark.read.parquet(dir)
      .select("raw", "scodes", "sscale").limit(20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val raw = r.getSeq[Long](0); val codes = r.getSeq[Long](1)
      val d = r.getLong(2)
      val m = raw.map(math.abs).max
      assert(d == math.max(1L, m / 127L), s"scale $d for max|raw| $m")
      assert(codes.forall(c => math.abs(c) <= 127), "code out of int8 range")
      val expected = raw.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / d))
      assert(codes == expected, "codes differ from sgn(x)*floor(|x|/d)")
    }
  }

  test("sq8 read self-hits: a verbatim chunk query ranks its own chunk #1") {
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchSq8Cells(spark, dir, sample, k = 3).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit was ${hits.head}")
    assert(hits.head.getAs[Double]("score") > 0.999)
  }

  test("batch read windows per query and agrees with the single-query read") {
    val samples = spark.read.parquet(dir)
      .filter(col("chunk_ix") === 1 && col("doc_id").isin(5L, 17L, 42L))
      .select("doc_id", "chunk").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val batch = VectorStore.searchSq8CellsBatch(spark, dir,
      samples.map(_._2).toSeq, k = 3).collect()
    samples.zipWithIndex.foreach { case ((docId, text), qid) =>
      val mine = batch.filter(_.getAs[Long]("query_id") == qid.toLong)
        .sortBy(_.getAs[Int]("rank"))
      assert(mine.nonEmpty && mine.head.getAs[Long]("doc_id") == docId,
        s"query $qid top hit ${mine.headOption}")
      val single = VectorStore.searchSq8Cells(spark, dir, text, k = 3)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_ix")))
      val ofBatch = mine.map(r => (r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix")))
      assert(single.toSeq == ofBatch.toSeq, s"batch/single diverge for $qid")
    }
  }

  test("append stays consistent with no frozen artifact: new rows serve") {
    val d2 = Files.createTempDirectory("graft_sq8_app").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 40), d2) > 0)
    assert(VectorStore.ingest(docs.filter(col("doc_id") >= 40 &&
      col("doc_id") < 60), d2, mode = "append") > 0)
    spark.catalog.refreshByPath(d2)
    val row = spark.read.parquet(d2).filter(col("doc_id") >= 40)
      .orderBy("doc_id", "chunk_ix")
      .select("doc_id", "chunk_ix", "chunk").limit(1).collect().head
    val hits = VectorStore.searchSq8Cells(spark, d2, row.getString(2),
      k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == row.getLong(0)
      && hits.head.getAs[Int]("chunk_ix") == row.getInt(1),
      s"appended chunk lost on the sq8 path: ${hits.headOption}")
  }

  private lazy val graphDir = {
    val d = Files.createTempDirectory("graft_sq8_g").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, d) > 100)
    assert(VectorStore.buildGraph(spark, d) > 0)
    d
  }

  test("sq8 graph walk self-hits and serves EXACT scores") {
    val sample = spark.read.parquet(graphDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchGraphSq8(spark, graphDir, sample, k = 3)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit was ${hits.head}")
    // the tail re-ranks full-width: the self-hit's served score is the
    // exact unit cosine, not a quantized approximation
    assert(hits.head.getAs[Double]("score") > 0.999)
    // every served score matches the exact walk's score for the same
    // (query, chunk) — the DiskANN contract: approximate ROUTE, exact answer
    val exact = VectorStore.searchGraph(spark, graphDir, sample, k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))
        -> r.getAs[Double]("score")).toMap
    hits.foreach { r =>
      val key = (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))
      exact.get(key).foreach(s =>
        assert(s == r.getAs[Double]("score"), s"score drifted for $key"))
    }
  }

  test("sq8 graph walk refuses a pre-sq8 store loudly") {
    // a store written before the sq8 columns also predates the format
    // marker: both graph walks refuse it before any job
    val leg = OldStore.unmarked(spark, graphDir, "sq8g")
    OldStore.assertRefused(spark, leg, "none")(
      "searchGraphSq8" -> (() => VectorStore.searchGraphSq8(spark, leg,
        "anything", k = 3)),
      "searchGraphSq8Batch" -> (() => VectorStore.searchGraphSq8Batch(spark,
        leg, Seq("anything"), k = 3)))
  }

  test("pre-sq8 legacy store: append keeps the schema uniform, read refuses") {
    // the append is refused by the format gate, so no batch can land
    // beside rows of another era: the schema stays as it was
    val leg = OldStore.unmarked(spark, dir, "sq8")
    val cols = spark.read.parquet(leg).columns.toSeq
    val more = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 100 && col("doc_id") < 105)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, leg, "none")(
      "append" -> (() => VectorStore.ingest(more, leg, mode = "append")),
      "searchSq8Cells" -> (() => VectorStore.searchSq8Cells(spark, leg,
        "anything", k = 3)),
      "searchCells" -> (() => VectorStore.searchCells(spark, leg,
        "anything", k = 3)))
    spark.catalog.refreshByPath(leg)
    assert(spark.read.parquet(leg).columns.toSeq == cols,
      "a refused append changed the schema")
  }

  test("golden reads: the sq8 route, single and batch, hashes as recorded") {
    import GoldenReads.Route
    GoldenReads.check(spark, GoldenReads.queries(spark, dir), Seq(
      Route("sq8", VectorStore.searchSq8Cells(spark, dir, _, 5),
        VectorStore.searchSq8CellsBatch(spark, dir, _, 5))),
      Map("sq8" -> (("321f2da4d7d91c6d", "321f2da4d7d91c6d"))))
  }
}
