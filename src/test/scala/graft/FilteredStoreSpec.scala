package graft

import graft.operators.{VectorStore, VectorStoreLex}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** G50 (r16): metadata-filtered store serving — the Weaviate `where`
  * filter (the reference's schema exists precisely to filter on:
  * Channel_Name/Message_Author/Message_Date). Pins the r13 verdict's
  * "done" bar: self-hit under its own metadata value, batch ≡ single
  * rank-for-rank, a selective predicate fills all k slots where
  * post-filtering an unfiltered top-k would under-fill, the filter
  * lands BELOW the rank window in the executed plan (B21's pre-filter
  * discipline), the pre-meta legacy refusal, the meta-less-append
  * refusal, and edit carrying the metadata plane. */
class FilteredStoreSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  // channel = ch{doc_id % 4}, author = au{doc_id % 3} — derivable in
  // assertions without reading the store back
  private def withMeta(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("meta", map(
      lit("channel"), concat(lit("ch"), pmod(col("doc_id"), lit(4)).cast("string")),
      lit("author"), concat(lit("au"), pmod(col("doc_id"), lit(3)).cast("string"))))

  private def chan(s: String) = element_at(col("meta"), "channel") === s

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft_filt").toString + "/index"
    val docs = withMeta(Tables.documents(spark, sf)
      .filter(col("doc_id") < 80).select("doc_id", "text"))
    assert(VectorStore.ingest(docs, dir) > 0)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def chunkOf(dir: String, doc: Long): String =
    spark.read.parquet(dir)
      .filter(col("doc_id") === doc && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)

  test("self-hit under its own metadata value; disjoint value excludes it") {
    val q = chunkOf(indexDir, 5) // doc 5 -> ch1
    val own = VectorStore.searchCellsFiltered(spark, indexDir, q, chan("ch1"))
      .collect()
    assert(own.nonEmpty && own.head.getAs[Long]("doc_id") == 5L &&
      own.head.getAs[Int]("rank") == 1, s"self-hit lost under own value")
    own.foreach(r => assert(r.getAs[Long]("doc_id") % 4 == 1,
      s"foreign-channel row served: $r"))
    val other = VectorStore.searchCellsFiltered(spark, indexDir, q, chan("ch2"))
      .collect()
    assert(!other.exists(_.getAs[Long]("doc_id") == 5L),
      "doc 5 served under a channel it does not carry")
    other.foreach(r => assert(r.getAs[Long]("doc_id") % 4 == 2))
  }

  test("filtered batch == filtered single, rank for rank") {
    val qs = Seq(chunkOf(indexDir, 2), chunkOf(indexDir, 9),
      chunkOf(indexDir, 14))
    val batch = VectorStore.searchCellsFilteredBatch(
        spark, indexDir, qs, chan("ch1"), k = 4)
      .collect().groupBy(_.getAs[Long]("query_id"))
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = rows(VectorStore.searchCellsFiltered(
        spark, indexDir, q, chan("ch1"), k = 4))
      val fromBatch = batch.getOrElse(i.toLong, Array.empty).toSeq
        .sortBy(_.getAs[Int]("rank")).map(_.toSeq.drop(1))
      assert(fromBatch == single, s"filtered batch diverged for query $i")
    }
  }

  test("a true predicate reproduces the unfiltered read exactly") {
    val q = chunkOf(indexDir, 11)
    assert(rows(VectorStore.searchCellsFiltered(spark, indexDir, q, lit(true)))
      == rows(VectorStore.searchCells(spark, indexDir, q)),
      "pred=true diverged from searchCells")
  }

  test("selective predicate fills all k where post-filtering under-fills") {
    // query with a ch0 doc's verbatim chunk, filter to ch1: the
    // unfiltered top-5 is self-hit-led (ch0) — post-filtering it to ch1
    // keeps fewer than 5 rows; the pre-filtered read must fill 5 ch1 rows
    val q = chunkOf(indexDir, 8) // doc 8 -> ch0
    val k = 5
    val unfiltered = VectorStore.searchCells(spark, indexDir, q, k).collect()
    val postFiltered = unfiltered.filter(_.getAs[Long]("doc_id") % 4 == 1)
    assert(postFiltered.length < k,
      s"probe not selective enough to prove under-fill: ${unfiltered.toSeq}")
    val pre = VectorStore.searchCellsFiltered(spark, indexDir, q,
      chan("ch1"), k).collect()
    assert(pre.length == k, s"pre-filter under-filled: ${pre.length} of $k")
    assert(pre.map(_.getAs[Int]("rank")).toSeq == (1 to k),
      "ranks not contiguous")
    pre.foreach(r => assert(r.getAs[Long]("doc_id") % 4 == 1))
  }

  test("plan: the metadata filter lands BELOW the rank window") {
    val df = VectorStore.searchCellsFilteredBatch(spark, indexDir,
      Seq(chunkOf(indexDir, 8)), chan("ch1"), k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toIndexedSeq
    val winAt = lines.indexWhere(_.contains("windowspecdefinition"))
    val filtAt = lines.indexWhere(l => l.contains("Filter") && l.contains("meta"))
    assert(winAt >= 0 && filtAt >= 0, s"window or meta filter missing:\n$plan")
    // tree prints parents first: the filter must sit BELOW the window
    assert(winAt < filtAt,
      s"metadata filter applied above the rank window (post-filter):\n$plan")
    // and the scan stays directory-pruned on the probed cells
    assert(lines.exists(l => l.contains("PartitionFilters") && l.contains("cell")),
      s"cell directory pruning lost under the filtered read:\n$plan")
  }

  test("hybrid filtered: both legs pre-filter, batch == single") {
    val q = chunkOf(indexDir, 8) // ch0 doc's chunk, filter to ch1
    val k = 5
    val unf = VectorStoreLex.searchHybrid(spark, indexDir, q, k).collect()
    assert(unf.count(_.getAs[Long]("doc_id") % 4 == 1) < k,
      "probe not selective enough for the hybrid under-fill proof")
    val pre = VectorStoreLex.searchHybridFiltered(spark, indexDir, q,
      chan("ch1"), k).collect()
    assert(pre.length == k, s"hybrid pre-filter under-filled: ${pre.length}")
    pre.foreach(r => assert(r.getAs[Long]("doc_id") % 4 == 1,
      s"foreign-channel row in filtered hybrid: $r"))
    // self-hit under own value tops both legs
    val self = VectorStoreLex.searchHybridFiltered(spark, indexDir,
      chunkOf(indexDir, 5), chan("ch1"), k).collect().head
    assert(self.getAs[Long]("doc_id") == 5L && self.getAs[Long]("rank") == 1L
      && self.getAs[Long]("vec_rank") == 1L && self.getAs[Long]("lex_rank") == 1L,
      s"filtered hybrid self-hit wrong: $self")
    // batch-of-many == singles
    val qs = Seq(q, chunkOf(indexDir, 5), chunkOf(indexDir, 13))
    val batch = VectorStoreLex.searchHybridFilteredBatch(spark, indexDir,
        qs, chan("ch1"), k)
      .collect().groupBy(_.getAs[Long]("query_id"))
    qs.zipWithIndex.foreach { case (qq, i) =>
      val single = rows(VectorStoreLex.searchHybridFiltered(
        spark, indexDir, qq, chan("ch1"), k))
      val fromBatch = batch.getOrElse(i.toLong, Array.empty).toSeq
        .sortBy(_.getAs[Long]("rank")).map(_.toSeq.drop(1))
      assert(fromBatch == single, s"hybrid filtered batch diverged for $i")
    }
  }

  test("legacy store without meta refuses a meta predicate loudly") {
    val dir = Files.createTempDirectory("graft_filt_l").toString + "/index"
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 15).select("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 0)
    val ex = intercept[IllegalArgumentException] {
      VectorStore.searchCellsFiltered(spark, dir, "anything", chan("ch1"))
    }
    assert(ex.getMessage.contains("re-ingest"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      VectorStoreLex.searchHybridFiltered(spark, dir, "anything", chan("ch1"))
    }
    assert(ex2.getMessage.contains("re-ingest"), ex2.getMessage)
  }

  test("meta-carrying store refuses a meta-less append loudly") {
    val dir = Files.createTempDirectory("graft_filt_a").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(withMeta(docs.filter(col("doc_id") < 15)),
      dir) > 0)
    val ex = intercept[IllegalArgumentException] {
      VectorStore.ingest(docs.filter(col("doc_id") === 20), dir,
        mode = "append")
    }
    assert(ex.getMessage.contains("meta"), ex.getMessage)
    // a meta-carrying append works and serves under the filter
    assert(VectorStore.ingest(withMeta(docs.filter(col("doc_id") === 21)),
      dir, mode = "append") > 0)
    val q = chunkOf(dir, 21) // 21 % 4 = 1
    val hits = VectorStore.searchCellsFiltered(spark, dir, q, chan("ch1"))
      .collect()
    assert(hits.headOption.exists(_.getAs[Long]("doc_id") == 21L),
      s"appended doc not served under its channel: ${hits.toSeq}")
  }

  test("edit carries the metadata plane (journaled, replay-safe)") {
    val dir = Files.createTempDirectory("graft_filt_e").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(withMeta(docs.filter(col("doc_id") < 20)),
      dir) > 0)
    // replace doc 7's content with doc 107's text — doc_id 7 keeps ch3
    val newDoc = withMeta(docs.filter(col("doc_id") === 107)
      .select(lit(7L).as("doc_id"), col("text")))
    val (removed, added) = VectorStore.edit(spark, dir, Seq(7L), newDoc)
    assert(removed > 0 && added > 0)
    val q = chunkOf(dir, 7)
    val hits = VectorStore.searchCellsFiltered(spark, dir, q, chan("ch3"))
      .collect()
    assert(hits.headOption.exists(_.getAs[Long]("doc_id") == 7L),
      s"edited doc lost its metadata plane: ${hits.toSeq}")
    val gone = VectorStore.searchCellsFiltered(spark, dir, q, chan("ch0"))
      .collect()
    assert(!gone.exists(_.getAs[Long]("doc_id") == 7L))
  }

  test("golden reads: the filtered cell route, single and batch, hashes as recorded") {
    import GoldenReads.Route
    val d = indexDir
    GoldenReads.check(spark, GoldenReads.queries(spark, d), Seq(
      Route("cellsFiltered", VectorStore.searchCellsFiltered(spark, d, _, chan("ch3"), 5),
        VectorStore.searchCellsFilteredBatch(spark, d, _, chan("ch3"), 5))),
      Map("cellsFiltered" -> (("eb5a0d2b46996eda", "eb5a0d2b46996eda"))))
  }
}
