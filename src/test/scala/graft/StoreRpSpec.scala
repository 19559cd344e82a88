package graft

import graft.operators.VectorStore
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** G47: the store's JL-projected serving rung — ingest-time 16-coordinate
  * ±1 projections of the 32 raw weights (literal sign matrix, no trained
  * artifact) + cell-probed projected-dot shortlist with exact re-rank.
  * Pins the code contract against an in-test md5 re-derivation, the
  * self-hit, the codes-only phase-1 scan, and the format-gate refusal
  * of a store older than the pcodes column. */
class StoreRpSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_rp").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, d) > 100)
    d
  }

  // the sign matrix re-derived independently of the production code
  private lazy val signs: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(16, VectorStore.Dim) { (j, d) =>
      val hex = md.digest(s"srp:$j:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      ((java.lang.Long.parseLong(hex, 16) >> 3) & 1L) * 2L - 1L
    }
  }

  test("ingest writes pcodes matching the md5 sign-matrix contract") {
    val rows = spark.read.parquet(dir)
      .select("raw", "pcodes").limit(20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val raw = r.getSeq[Long](0); val p = r.getSeq[Long](1)
      assert(p.length == 16,
        s"expected 16 projected coords, got ${p.length}")
      val expected = (0 until 16).map(j =>
        raw.indices.map(d => signs(j)(d) * raw(d)).sum)
      assert(p == expected, "pcodes differ from the md5 sign projection")
    }
  }

  test("rp read self-hits: a verbatim chunk query ranks its own chunk #1") {
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchRpCells(spark, dir, sample, k = 3).collect()
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
    val batch = VectorStore.searchRpCellsBatch(spark, dir,
      samples.map(_._2).toSeq, k = 3).collect()
    samples.zipWithIndex.foreach { case ((docId, text), qid) =>
      val mine = batch.filter(_.getAs[Long]("query_id") == qid.toLong)
        .sortBy(_.getAs[Int]("rank"))
      val single = VectorStore.searchRpCells(spark, dir, text, k = 3)
        .collect()
      assert(mine.length == single.length, s"query $qid row count")
      mine.zip(single).foreach { case (b, s) =>
        assert(b.getAs[Long]("doc_id") == s.getAs[Long]("doc_id") &&
          b.getAs[Int]("chunk_ix") == s.getAs[Int]("chunk_ix") &&
          b.getAs[Int]("rank") == s.getAs[Int]("rank"),
          s"query $qid diverged: batch=$b single=$s")
      }
      assert(mine.head.getAs[Long]("doc_id") == docId,
        s"query $qid lost its self-hit")
    }
  }

  test("phase-1 scan reads pcodes, not raw vectors or chunk text") {
    val q = VectorStore.searchRpCells(spark, dir, "merge join", k = 2)
    q.collect()
    val scans = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(s => s.contains("pcodes") && !s.contains("raw") &&
      !s.contains("chunk,")),
      s"no pcodes-only pruned scan found:\n${scans.mkString("\n")}")
  }

  test("pre-rp legacy store: append keeps the schema uniform, read refuses") {
    // a store written before the pcodes column also predates the format
    // marker: its append and the rp read are refused before any job
    val leg = OldStore.unmarked(spark, dir, "rp")
    val cols = spark.read.parquet(leg).columns.toSeq
    val more = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 100 && col("doc_id") < 105)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, leg, "none")(
      "append" -> (() => VectorStore.ingest(more, leg, mode = "append")),
      "searchRpCells" -> (() => VectorStore.searchRpCells(spark, leg,
        "anything", k = 3)),
      "searchRpCellsBatch" -> (() => VectorStore.searchRpCellsBatch(spark, leg,
        Seq("anything"), k = 3)))
    spark.catalog.refreshByPath(leg)
    assert(spark.read.parquet(leg).columns.toSeq == cols,
      "a refused append changed the schema")
  }

  test("golden reads: the rp route, single and batch, hashes as recorded") {
    import GoldenReads.Route
    GoldenReads.check(spark, GoldenReads.queries(spark, dir), Seq(
      Route("rp", VectorStore.searchRpCells(spark, dir, _, 5),
        VectorStore.searchRpCellsBatch(spark, dir, _, 5))),
      Map("rp" -> (("321f2da4d7d91c6d", "321f2da4d7d91c6d"))))
  }
}
