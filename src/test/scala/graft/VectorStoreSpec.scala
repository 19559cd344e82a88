package graft

import graft.operators.VectorStore
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class VectorStoreSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft_vs").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    val n = VectorStore.ingest(docs, dir)
    assert(n > 100, s"expected >1 chunk per doc, got $n")
    dir
  }

  test("index is partitioned by LSH bucket") {
    val buckets = new java.io.File(indexDir).list().filter(_.startsWith("bucket="))
    assert(buckets.length > 1, "expected multiple bucket partitions")
  }

  test("search returns the source chunk for a verbatim query") {
    // query with an exact chunk text → that chunk must rank #1 (self-dot
    // is the max possible inner product of unit vectors)
    val sample = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.search(spark, indexDir, sample, k = 3).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1,
      s"top hit was ${hits.head}")
    assert(hits.head.getAs[Double]("score") > 0.999)
  }

  test("searchBatch matches per-query search and ranks inside a per-query window") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batchDf = VectorStore.searchBatch(spark, indexDir, samples, k = 3)
    val batch = batchDf.collect()
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.toSeq.sortBy(
        _.getAs[Int]("rank"))).toMap
    samples.zipWithIndex.foreach { case (qt, i) =>
      val single = VectorStore.search(spark, indexDir, qt, k = 3).collect()
      val got = batch(i.toLong)
      assert(got.size == single.length, s"query $i: row count diverged")
      single.zip(got).foreach { case (s, b) =>
        assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id") &&
          s.getAs[Int]("chunk_ix") == b.getAs[Int]("chunk_ix") &&
          s.getAs[Int]("rank") == b.getAs[Int]("rank"),
          s"query $i diverged: single=$s batch=$b")
      }
    }
    // the ranking window must be keyed by query_id — an unpartitioned
    // window would funnel every query's candidates into one partition
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("query_id"), s"batch rank lost its query key:\n$plan")
  }

  test("searchDiverse: MMR keeps the top hit, lowers intra-set similarity, deterministic") {
    val sample = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(1).collect().head.getString(0)
    val plain = VectorStore.search(spark, indexDir, sample, k = 4).collect()
    val diverse = VectorStore.searchDiverse(spark, indexDir, sample,
      k = 4, shortlist = 20, lambdaRel = 0.5).collect()
    assert(diverse.nonEmpty)
    // relevance anchor: rank 1 is the relevance-max pick in both
    assert(diverse.head.getAs[Long]("doc_id") == plain.head.getAs[Long]("doc_id")
      && diverse.head.getAs[Int]("chunk_ix") == plain.head.getAs[Int]("chunk_ix"))
    def avgPairSim(rows: Array[org.apache.spark.sql.Row]): Double = {
      val keys = rows.map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix")))
      val raws = spark.read.parquet(indexDir)
        .filter(col("chunk_ix").isNotNull)
        .select("doc_id", "chunk_ix", "raw").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2).toArray)
        .toMap
      val vs = keys.flatMap(raws.get)
      val pairs = for {
        i <- vs.indices; j <- vs.indices if j > i
      } yield {
        val (a, b) = (vs(i), vs(j))
        val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
        val na = math.sqrt(a.map(x => x * x).sum.toDouble)
        val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      if (pairs.isEmpty) 0.0 else pairs.sum / pairs.size
    }
    assert(avgPairSim(diverse) <= avgPairSim(plain) + 1e-9,
      "MMR set is not more diverse than plain top-k")
    // deterministic rerun
    val again = VectorStore.searchDiverse(spark, indexDir, sample,
      k = 4, shortlist = 20, lambdaRel = 0.5).collect()
    assert(diverse.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("truncated search at full width is rank-for-rank equal to search()") {
    // the truncation-basis contract (r10): this store HAS a G38 OPQ perm
    // sidecar with a verified non-identity permutation, and truncated
    // serving must ignore it — the prefix is of the STORED raw layout
    // (MRL semantics: the embedder's own dim order), not of the permuted
    // PQ layout, because the two bases do not commute
    val perm = spark.read.parquet(s"$indexDir/_graft_pq/perm.parquet")
      .orderBy("p").collect().map(_.getInt(1)).toSeq
    assert(perm.sorted == (0 until VectorStore.Dim),
      "store is missing a valid OPQ perm sidecar")
    assert(perm != (0 until VectorStore.Dim),
      "trained permutation is the identity — the basis pin is vacuous")
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    samples.foreach { qt =>
      val exact = VectorStore.search(spark, indexDir, qt, k = 5)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_ix")))
      val trunc = VectorStore.searchTruncated(spark, indexDir, qt, k = 5,
        dims = VectorStore.Dim).collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_ix")))
      assert(exact.nonEmpty && exact.toSeq == trunc.toSeq,
        s"dims=Dim truncated serving diverged from exact search for '$qt'")
    }
  }

  test("truncated search: self-hit rank 1 at dims=8; shortlist recall at dims=16") {
    val sample = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchTruncated(spark, indexDir, sample,
      k = 3, dims = 8).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1,
      s"verbatim self-hit lost under prefix scoring: ${hits.head}")
    assert(hits.head.getAs[Double]("score") > 0.999) // full-width re-rank score
    // recall@5 of the dims=16 serve vs the exact path, over a handful of
    // real chunk queries — the serving-side pin of vec_mrl_recall's
    // measured trade (prefix ranking keeps most of the true top-k when
    // the shortlist is 10x k)
    val queries = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(5).collect().map(_.getString(0)).distinct.toSeq
    val got = queries.map { qt =>
      val want = VectorStore.search(spark, indexDir, qt, k = 5).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))).toSet
      val t = VectorStore.searchTruncated(spark, indexDir, qt, k = 5,
        dims = 16).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))).toSet
      (want intersect t).size.toDouble / want.size
    }
    val recall = got.sum / got.size
    assert(recall >= 0.6, f"dims=16 serving recall@5 = $recall%.2f < 0.6")
  }

  test("searchTruncatedBatch matches per-query searchTruncated, windows by query") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batchDf = VectorStore.searchTruncatedBatch(spark, indexDir, samples,
      k = 3, dims = 16)
    val batch = batchDf.collect()
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.toSeq.sortBy(
        _.getAs[Int]("rank"))).toMap
    samples.zipWithIndex.foreach { case (qt, i) =>
      val single = VectorStore.searchTruncated(spark, indexDir, qt,
        k = 3, dims = 16).collect()
      val got = batch(i.toLong)
      assert(got.size == single.length, s"query $i: row count diverged")
      single.zip(got).foreach { case (s, b) =>
        assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id") &&
          s.getAs[Int]("chunk_ix") == b.getAs[Int]("chunk_ix") &&
          s.getAs[Int]("rank") == b.getAs[Int]("rank"),
          s"query $i diverged: single=$s batch=$b")
      }
    }
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("query_id"), s"batch rank lost its query key:\n$plan")
  }

  test("compressed search: verbatim query self-hit ranks #1 after re-rank") {
    val sample = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchCompressed(spark, indexDir, sample, k = 3).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit was ${hits.head}")
    assert(hits.head.getAs[Double]("score") > 0.999)
  }

  test("compressed search recall vs the exact path") {
    // same probed buckets, ADC shortlist + re-rank vs exact ranking: the
    // compressed path must recover most of the exact top-k
    val queries = Seq("spark table merge join", "knowledge export channel",
      "quality filter tokens", "vector store search")
    val recalls = queries.map { qt =>
      val exact = VectorStore.search(spark, indexDir, qt, k = 5).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))).toSet
      val comp = VectorStore.searchCompressed(spark, indexDir, qt, k = 5)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))).toSet
      if (exact.isEmpty) 1.0
      else exact.intersect(comp).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 vs exact: $mean%.2f ($recalls)")
    assert(mean >= 0.6, f"compressed recall $mean%.2f below floor")
  }

  test("searchCompressedBatch matches per-query searchCompressed, windows by query") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batchDf = VectorStore.searchCompressedBatch(spark, indexDir, samples, k = 3)
    val batch = batchDf.collect()
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.toSeq.sortBy(
        _.getAs[Int]("rank"))).toMap
    samples.zipWithIndex.foreach { case (qt, i) =>
      val single = VectorStore.searchCompressed(spark, indexDir, qt, k = 3)
        .collect()
      val got = batch(i.toLong)
      assert(got.size == single.length, s"query $i: row count diverged")
      single.zip(got).foreach { case (s, b) =>
        assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id") &&
          s.getAs[Int]("chunk_ix") == b.getAs[Int]("chunk_ix") &&
          s.getAs[Int]("rank") == b.getAs[Int]("rank"),
          s"query $i diverged: single=$s batch=$b")
      }
    }
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("query_id"), s"batch rank lost its query key:\n$plan")
  }

  test("searchCellsBatch matches per-query searchCells, windows by query") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batchDf = VectorStore.searchCellsBatch(spark, indexDir, samples, k = 3)
    val batch = batchDf.collect()
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.toSeq.sortBy(
        _.getAs[Int]("rank"))).toMap
    samples.zipWithIndex.foreach { case (qt, i) =>
      val single = VectorStore.searchCells(spark, indexDir, qt, k = 3).collect()
      val got = batch(i.toLong)
      assert(got.size == single.length, s"query $i: row count diverged")
      single.zip(got).foreach { case (s, b) =>
        assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id") &&
          s.getAs[Int]("chunk_ix") == b.getAs[Int]("chunk_ix") &&
          s.getAs[Int]("rank") == b.getAs[Int]("rank"),
          s"query $i diverged: single=$s batch=$b")
      }
    }
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("query_id"), s"batch rank lost its query key:\n$plan")
  }

  test("searchDiverseBatch: lambda=1 degenerates to searchCellsBatch, " +
    "lambda<1 diversifies without losing the top hit") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    // λ=1: no redundancy penalty — the greedy argmax IS the relevance
    // ranking, so the result must equal the plain cell read rank-for-rank
    val plain = VectorStore.searchCellsBatch(spark, indexDir, samples, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Number]("rank").longValue, r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_ix")))
    val degen = VectorStore.searchDiverseBatch(spark, indexDir, samples,
      k = 4, shortlist = 20, lambda = 1.0)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Number]("rank").longValue, r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_ix")))
    assert(degen.sorted.toSeq == plain.map(t =>
      (t._1, t._2, t._3, t._4)).sorted.toSeq,
      "lambda=1 diverse read diverged from the plain cell read")
    // λ=0.5: rank 1 unchanged (no penalty on the first pick), picks
    // distinct, and the served set is no more redundant than plain top-4
    val div = VectorStore.searchDiverseBatch(spark, indexDir, samples,
      k = 4, shortlist = 20, lambda = 0.5).collect()
    // ...and picks the same rows, scores and objectives as the k-step
    // DataFrame greedy it replaced
    def picks(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      Seq(r.getAs[Long]("query_id"), r.getAs[Number]("rank").longValue,
        r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"), r.getAs[String]("chunk"),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("score")),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("mmr")))
        .mkString("|")).sorted.toSeq
    assert(picks(div) == picks(MmrStepOracle.searchDiverseBatch(spark, indexDir,
      samples, k = 4, nprobe = 2, shortlist = 20, lambda = 0.5).collect()),
      "lambda=0.5 diverse read diverged from the k-step oracle")
    val raws = spark.read.parquet(indexDir)
      .select("doc_id", "chunk_ix", "raw").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2).toArray)
      .toMap
    def meanPairSim(keys: Seq[(Long, Int)]): Double = {
      val vs = keys.flatMap(raws.get)
      val ps = for (i <- vs.indices; j <- vs.indices if i < j) yield {
        val (a, b) = (vs(i), vs(j))
        val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
        val na = math.sqrt(a.map(x => x * x).sum.toDouble)
        val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      if (ps.isEmpty) 0.0 else ps.sum / ps.size
    }
    div.groupBy(_.getAs[Long]("query_id")).foreach { case (q, g) =>
      val sorted = g.sortBy(_.getAs[Number]("rank").longValue)
      val keys = sorted.map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_ix"))).toSeq
      assert(keys.distinct.length == keys.length, s"query $q repeats a pick")
      val p1 = plain.filter(t => t._1 == q && t._2 == 1L).head
      assert(keys.head == ((p1._3, p1._4)), s"query $q lost the top hit")
      val pKeys = plain.filter(_._1 == q).sortBy(_._2)
        .map(t => (t._3, t._4)).toSeq
      assert(meanPairSim(keys) <= meanPairSim(pKeys) + 1e-9,
        s"query $q diverse set MORE redundant than plain")
    }
  }

  test("searchDiverseBatch runs at most one job more than searchCellsBatch") {
    val qs = GoldenReads.queries(spark, indexDir)
    def jobs(read: => org.apache.spark.sql.DataFrame): Int =
      JobCounter(spark)(read.collect())._2.jobs
    val cells = jobs(VectorStore.searchCellsBatch(spark, indexDir, qs, 5))
    val diverse = jobs(VectorStore.searchDiverseBatch(spark, indexDir, qs, 5))
    info(s"searchCellsBatch $cells jobs, searchDiverseBatch $diverse jobs")
    assert(diverse <= cells + 1,
      s"searchDiverseBatch ran $diverse jobs against searchCellsBatch's $cells")
  }

  test("compressed ADC scan reads codes, not raw vectors or chunk text") {
    val q = VectorStore.searchCompressed(spark, indexDir, "merge join", k = 2)
    q.collect()
    // the ADC branch's parquet scan must be pruned to ids/bucket/codes —
    // raw/embedding/chunk stay out until the shortlist re-rank fetch
    val scans = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(s => s.contains("codes") && !s.contains("raw")),
      s"no codes-only pruned scan found:\n${scans.mkString("\n")}")
  }

  test("compressed-cells ADC scan reads rcodes, not raw vectors or chunk text") {
    val q = VectorStore.searchCompressedCells(spark, indexDir, "merge join",
      k = 2)
    q.collect()
    // the residual-ADC branch's parquet scan must be pruned to
    // ids/rcodes — raw/embedding/chunk stay out until the re-rank fetch
    val scans = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(s => s.contains("rcodes") && !s.contains("raw")),
      s"no rcodes-only pruned scan found:\n${scans.mkString("\n")}")
  }

  test("append reuses the frozen codebook; compressed search spans both batches") {
    val dir = Files.createTempDirectory("graft_vs_app").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    VectorStore.ingest(docs.filter(col("doc_id") < 50), dir)
    def codebook() = spark.read
      .parquet(s"$dir/_graft_pq/codebook.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(t => (t._1, t._2))
    val cb1 = codebook()
    VectorStore.ingest(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      dir, mode = "append")
    // the codebook is frozen at store creation — an append that rebuilt it
    // would leave the first batch's codes scored against the wrong centroids
    assert(codebook().toSeq == cb1.toSeq, "append rewrote the codebook")
    // a verbatim chunk from the APPENDED batch must self-hit at rank 1
    // through the compressed path (its codes were encoded with the reused
    // codebook)
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 70 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchCompressed(spark, dir, sample, k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 70L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit was ${hits.headOption}")
  }

  test("OPQ perm sidecar: trained at creation, frozen across append, codes comparable") {
    val dir = Files.createTempDirectory("graft_vs_opq").toString + "/index"
    val first = Tables.documents(spark, sf)
      .filter(col("doc_id") < 40).select("doc_id", "text")
    assert(VectorStore.ingest(first, dir) > 0)
    def permRows = spark.read.parquet(s"$dir/_graft_pq/perm.parquet")
      .orderBy("p").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val perm1 = permRows
    assert(perm1.map(_._1) == (0 until VectorStore.Dim),
      "perm sidecar slots are not 0..Dim-1")
    assert(perm1.map(_._2).sorted == (0 until VectorStore.Dim),
      s"perm sidecar is not a permutation of the dims: $perm1")
    val second = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .select("doc_id", "text")
    assert(VectorStore.ingest(second, dir, mode = "append") > 0)
    assert(permRows == perm1, "append retrained the frozen permutation")
    // codes from the two batches compare: a verbatim chunk from the
    // APPENDED batch self-hits at rank 1 through the compressed path
    // (ADC shortlist under the shared perm + codebook, exact re-rank)
    val row = spark.read.parquet(dir)
      .filter(col("doc_id") >= 40)
      .orderBy("doc_id", "chunk_ix")
      .select("doc_id", "chunk_ix", "chunk").limit(1).collect().head
    val hits = VectorStore.searchCompressed(spark, dir,
      row.getString(2), k = 3).collect()
    assert(hits.nonEmpty &&
      hits.head.getAs[Long]("doc_id") == row.getLong(0) &&
      hits.head.getAs[Int]("chunk_ix") == row.getInt(1),
      s"appended chunk lost under the frozen perm: ${hits.head}")
  }

  test("compressed-cells search: self-hit rank 1; ADC scan cell-pruned; " +
      "batch twin matches") {
    // the store-side IVFPQ composition: frozen cells + frozen residual
    // codebook + stored rcodes; a verbatim chunk must survive the
    // residual-ADC shortlist and win the exact re-rank
    val sample = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchCompressedCells(spark, indexDir, sample,
      k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 3L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit: ${hits.headOption}")
    assert(hits.head.getAs[Double]("score") > 0.999) // exact re-rank tail
    // batch twin: rank-for-rank equal to the single-query read
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batch = VectorStore.searchCompressedCellsBatch(spark, indexDir,
      samples, k = 3).collect()
      .groupBy(_.getAs[Long]("query_id")).view
      .mapValues(_.sortBy(_.getAs[Int]("rank")).toSeq).toMap
    samples.zipWithIndex.foreach { case (qt, i) =>
      val single = VectorStore.searchCompressedCells(spark, indexDir, qt,
        k = 3).collect()
      val got = batch(i.toLong)
      assert(single.length == got.size, s"query $i row count diverged")
      single.zip(got).foreach { case (s, b) =>
        assert(s.getAs[Long]("doc_id") == b.getAs[Long]("doc_id") &&
          s.getAs[Int]("chunk_ix") == b.getAs[Int]("chunk_ix") &&
          s.getAs[Int]("rank") == b.getAs[Int]("rank"),
          s"query $i diverged: single=$s batch=$b")
      }
    }
  }

  test("residual codebook freezes at creation; appended chunks serve " +
      "through compressed-cells") {
    val dir = Files.createTempDirectory("graft_vs_res").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 50), dir) > 0)
    def rescb() = spark.read.parquet(s"$dir/_graft_pq/rescb.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val cb1 = rescb()
    assert(cb1.nonEmpty)
    assert(VectorStore.ingest(
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      dir, mode = "append") > 0)
    assert(rescb() == cb1, "append retrained the frozen residual codebook")
    // an APPENDED verbatim chunk self-hits through the composed read
    // (r11: the coarse probe IS the assignment rule, so any chunk's own
    // cell is its top-1 probe — this pin isolates the residual-ADC
    // stage on an appended row coded with the frozen rescb)
    spark.catalog.refreshByPath(dir)
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 70 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchCompressedCells(spark, dir, sample,
      k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 70L &&
      hits.head.getAs[Int]("chunk_ix") == 1,
      s"appended chunk lost on the residual path: ${hits.headOption}")
    assert(hits.head.getAs[Double]("score") > 0.999)
  }

  test("legacy store (codebook, no perm sidecar): append stays identity-coded, " +
      "writes no sidecar") {
    // a store written before the perm sidecar also predates the format
    // marker: the gate refuses its append and its compressed read before
    // any job, so no perm sidecar is written and no row is coded along a
    // layout the frozen codebook never saw — re-ingest upgrades it
    val dir = OldStore.unmarked(spark, indexDir, "preperm",
      "_graft_pq/perm.parquet")
    val second = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, dir, "none")(
      "append" -> (() => VectorStore.ingest(second, dir, mode = "append")),
      "searchCompressed" -> (() => VectorStore.searchCompressed(spark, dir,
        "anything", k = 3)))
    assert(!new java.io.File(s"$dir/_graft_pq/perm.parquet").exists,
      "a refused append wrote a perm sidecar")
  }

  test("pre-residual legacy store: append codes no rcodes, writes no rescb; " +
      "compressed-cells refuses loudly") {
    // a store written before residual coding also predates the format
    // marker: its append is refused (no rescb sidecar trained from the
    // batch, no mixed-schema index) and so is the compressed-cells read
    val dir = OldStore.unmarked(spark, indexDir, "preres",
      "_graft_pq/rescb.parquet")
    val more = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, dir, "none")(
      "append" -> (() => VectorStore.ingest(more, dir, mode = "append")),
      "searchCompressedCells" -> (() => VectorStore.searchCompressedCells(
        spark, dir, "anything", k = 3)),
      "searchCells" -> (() => VectorStore.searchCells(spark, dir,
        "anything", k = 3)))
    assert(!new java.io.File(s"$dir/_graft_pq/rescb.parquet").exists,
      "a refused append trained and froze a rescb sidecar")
  }

  test("time-axis zone maps: tag-range serve prunes to the matching batches' files") {
    import graft.sources.ZoneMaps
    val dir = Files.createTempDirectory("graft_vs_tag").toString + "/index"
    val a = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "text")
    val b = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 40 && col("doc_id") < 60).select("doc_id", "text")
    assert(VectorStore.ingest(a, dir, batchTag = 1L) > 0)
    assert(VectorStore.ingest(b, dir, mode = "append", batchTag = 2L) > 0)
    // the pruning decision: a tag-2 window keeps strictly fewer than all
    // files (batch files carry single-point zones)
    val (kept, total) = ZoneMaps.planFiles(spark, dir, 2L, 2L)
    assert(kept.nonEmpty && kept.size < total,
      s"tag window did not prune: ${kept.size}/$total files")
    // a verbatim chunk from batch 2 self-hits at rank 1 inside its window
    val row = spark.read.parquet(dir).filter(col("batch_tag") === 2L)
      .orderBy("doc_id", "chunk_ix")
      .select("doc_id", "chunk_ix", "chunk").limit(1).collect().head
    val hits = VectorStore.searchTagRange(spark, dir, row.getString(2),
      lo = 2L, hi = 2L, k = 3).collect()
    assert(hits.nonEmpty &&
      hits.head.getAs[Long]("doc_id") == row.getLong(0) &&
      hits.head.getAs[Int]("chunk_ix") == row.getInt(1), s"${hits.headOption}")
    // the same query windowed to batch 1 must surface NO batch-2 rows
    val tag2docs = spark.read.parquet(dir).filter(col("batch_tag") === 2L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val old = VectorStore.searchTagRange(spark, dir, row.getString(2),
      lo = 1L, hi = 1L, k = 3).collect()
    assert(old.forall(r => !tag2docs.contains(r.getAs[Long]("doc_id"))),
      "a batch-2 chunk leaked into the batch-1 window")
    // the full window is semantics-free pruning: equals the plain search
    val full = VectorStore.searchTagRange(spark, dir, row.getString(2),
      lo = 1L, hi = 2L, k = 3).collect().map(_.toString).toSeq
    val plain = VectorStore.search(spark, dir, row.getString(2), k = 3)
      .collect().map(_.toString).toSeq
    assert(full == plain, "tag-range over the full window diverged from search()")
    // the batch twin matches the single-query tag-range serve
    val qs = Seq(row.getString(2))
    val batch = VectorStore.searchTagRangeBatch(spark, dir, qs,
      lo = 2L, hi = 2L, k = 3).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_ix"))).toSeq
    val single = VectorStore.searchTagRange(spark, dir, row.getString(2),
      lo = 2L, hi = 2L, k = 3).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_ix"))).toSeq
    assert(batch == single, "tag-range batch twin diverged from single")
    // delete rewrites buckets; the sidecar must track the new tree
    assert(VectorStore.delete(spark, dir, Seq(row.getLong(0))) > 0)
    val (_, t2) = ZoneMaps.planFiles(spark, dir, 1L, 2L)
    val nFiles = spark.read.parquet(dir).inputFiles.length
    assert(t2 == nFiles,
      s"sidecar lists $t2 files after delete, tree has $nFiles")
  }

  test("cell layout: second-level cell=N dirs exist; searchCells self-hits at rank 1") {
    val bucketDirs = new java.io.File(indexDir).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    val cellDirs = bucketDirs.flatMap(_.listFiles())
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "expected cell=N subdirectories")
    // ARBITRARY stored chunks self-hit (r11): the coarse probe ranks by
    // the assignment rule itself (min-sqdist over the frozen sidecar),
    // so EVERY chunk's own cell is its own query's top-1 probe — not
    // just a probe-reachable sample, the r10 caveat this deletes. An
    // md5-spread draw keeps the pick deterministic but unbiased.
    val samples = spark.read.parquet(indexDir)
      .select("doc_id", "chunk_ix", "chunk")
      .withColumn("h", md5(concat_ws(":", col("doc_id"), col("chunk_ix"))))
      .orderBy("h").limit(8).collect()
    samples.foreach { s =>
      val hits = VectorStore.searchCells(spark, indexDir,
        s.getString(2), k = 3).collect()
      assert(hits.nonEmpty &&
        hits.head.getAs[Long]("doc_id") == s.getLong(0) &&
        hits.head.getAs[Int]("chunk_ix") == s.getInt(1),
        s"chunk (${s.getLong(0)}, ${s.getInt(1)}) lost under cell " +
          s"probing: ${hits.headOption}")
      assert(hits.head.getAs[Double]("score") > 0.999)
    }
    // and the plan prunes partitions by the literal probed cell list
    val plan = VectorStore.searchCells(spark, indexDir,
      samples.head.getString(2), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cell"), "expected cell partition pruning in plan")
  }

  test("cell count is a creation knob: a 16-cell store serves every cell path") {
    // cell count should scale with the corpus (finer Voronoi cells =
    // finer directory pruning); serving reads the frozen sidecar, so any
    // K works — pinned at 2x the default, with appends reusing it
    val dir = Files.createTempDirectory("graft_vs_k16").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 60), dir,
      cells = 16) > 0)
    val cents = spark.read.parquet(s"$dir/_graft_cells/centroids.parquet")
      .collect()
    assert(cents.length > 8 && cents.length <= 16,
      s"expected up to 16 trained cells, sidecar has ${cents.length}")
    assert(VectorStore.ingest(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 80), dir,
      mode = "append", cells = 16) > 0)
    spark.catalog.refreshByPath(dir)
    val row = spark.read.parquet(dir)
      .filter(col("doc_id") >= 60).orderBy("doc_id", "chunk_ix")
      .select("doc_id", "chunk_ix", "chunk").limit(1).collect().head
    // aligned probe: the appended chunk's own cell is its top-1 probe
    val hits = VectorStore.searchCells(spark, dir, row.getString(2),
      k = 3).collect()
    assert(hits.nonEmpty &&
      hits.head.getAs[Long]("doc_id") == row.getLong(0) &&
      hits.head.getAs[Int]("chunk_ix") == row.getInt(1),
      s"16-cell self-hit lost: ${hits.headOption}")
    val chits = VectorStore.searchCompressedCells(spark, dir,
      row.getString(2), k = 3).collect()
    assert(chits.nonEmpty &&
      chits.head.getAs[Long]("doc_id") == row.getLong(0),
      s"16-cell compressed self-hit lost: ${chits.headOption}")
  }

  test("append reuses the frozen cell centroids; appended chunks searchable by cell") {
    val dir = Files.createTempDirectory("graft_vs_cells").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    VectorStore.ingest(docs.filter(col("doc_id") < 50), dir)
    def cents() = spark.read
      .parquet(s"$dir/_graft_cells/centroids.parquet")
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    val c1 = cents()
    assert(c1.nonEmpty)
    VectorStore.ingest(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      dir, mode = "append")
    assert(cents().toSeq == c1.toSeq, "append rewrote the cell centroids")
    val sample = spark.read.parquet(dir)
      .filter(col("doc_id") === 70 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStore.searchCells(spark, dir, sample, k = 3).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 70L &&
      hits.head.getAs[Int]("chunk_ix") == 1, s"top hit was ${hits.headOption}")
  }

  test("delete drops fully-victim cell subdirs inside surviving buckets (no zombies)") {
    val dir = Files.createTempDirectory("graft_vs_zomb").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select("doc_id", "text")
    VectorStore.ingest(docs, dir)
    val before = spark.read.parquet(dir)
      .select("doc_id", "bucket", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // pick a (bucket, cell) dir and delete EVERY doc that has rows in it:
    // the dir must vanish while its bucket (if other cells survive) stays
    val (_, tb, tc) = before.head
    val victims = before.filter(p => p._2 == tb && p._3 == tc).map(_._1).distinct
    VectorStore.delete(spark, dir, victims.toSeq)
    val cellDir = new java.io.File(s"$dir/bucket=$tb/cell=$tc")
    assert(!cellDir.exists, s"zombie cell dir survived: $cellDir")
    // no stale rows readable from any victim doc
    val left = spark.read.parquet(dir)
      .filter(col("doc_id").isInCollection(victims.toSeq)).count()
    assert(left == 0, s"victim rows still readable: $left")
  }

  test("a store whose every doc was deleted reads as empty") {
    val dir = Files.createTempDirectory("graft_vs_drain").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 2)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 0)
    assert(VectorStore.delete(spark, dir, Seq(0L, 1L)) > 0)
    assert(VectorStore.search(spark, dir, "any query", k = 3).collect().isEmpty,
      "a drained store served rows")
    assert(VectorStore.searchTagRange(spark, dir, "any query", 0L, 0L, k = 3)
      .collect().isEmpty, "a drained store served tag-range rows")
    assert(VectorStore.searchTagRangeBatch(spark, dir, Seq("any query", "more"),
      0L, 0L, k = 3).collect().isEmpty, "a drained store served tag-range batch rows")
    def tree() = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.toArray.map(_.toString).toSet finally w.close()
    }
    val drained = tree()
    assert(VectorStore.delete(spark, dir, Seq(0L, 1L)) == 0,
      "a second delete of the drained docs removed rows")
    assert(tree() == drained, "a delete of ids the store does not hold wrote files")
  }

  test("edit rounds leave every partition they touch as one data file") {
    // a byte copy of the shared fixture: no further ingest
    val dir = OldStore.copy(indexDir, "files")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def parts(): Map[String, Set[String]] =
      graft.sources.ParquetFooters.files(spark, dir).toSeq
        .groupBy(_.getParent.toString).view.mapValues(_.map(_.getName).toSet).toMap
    var touched = Set.empty[String]
    Seq((Seq(3L, 4L), 103), (Seq(4L, 50L), 150), (Seq(3L, 77L), 177))
      .foreach { case (ids, src) =>
        val before = parts()
        VectorStore.edit(spark, dir, ids, docs.filter(col("doc_id") === src)
          .select(lit(ids.head).as("doc_id"), col("text")))
        val after = parts()
        touched ++= after.keySet.filter(p => before.get(p) != after.get(p))
      }
    val now = parts()
    val split = touched.filter(now.contains).filter(now(_).size != 1)
    assert(touched.nonEmpty && split.isEmpty,
      s"partitions an edit touched hold several files: ${split.map(p => p -> now(p).size)}")
  }

  test("search scans only the probed buckets") {
    val q = VectorStore.search(spark, indexDir, "spark table merge join", k = 2)
    val scan = q.queryExecution.executedPlan.toString
    assert(q.collect().length <= 2)
    // partition filter on the bucket column must reach the file source
    assert(scan.contains("PartitionFilters") || scan.contains("bucket"),
      "expected bucket partition pruning in the plan")
  }

  test("delete removes a doc's chunks, rewrites only its buckets (#EDIT path)") {
    // separate index — the lazy shared one is used by the other tests
    val dir = Files.createTempDirectory("graft_vs_del").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select("doc_id", "text")
    VectorStore.ingest(docs, dir)
    val before = spark.read.parquet(dir)
    val beforeCount = before.count() // materialize NOW — files vanish on delete
    val victimBuckets = before.filter(col("doc_id") === 7)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(victimBuckets.nonEmpty)
    val untouched = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("bucket=") &&
        !victimBuckets.contains(f.getName.stripPrefix("bucket=").toInt))
      .map(f => f.getName -> f.lastModified).toMap

    val removed = VectorStore.delete(spark, dir, Seq(7L))
    assert(removed > 0)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("doc_id") === 7).count() == 0)
    assert(after.count() == beforeCount - removed)
    // buckets without victims kept their files byte-for-byte
    untouched.foreach { case (name, mtime) =>
      val f = new java.io.File(s"$dir/$name")
      assert(f.exists && f.lastModified == mtime,
        s"untouched partition $name was rewritten")
    }
    // #EDIT reprocess: delete + append the edited doc re-indexes it
    val edited = docs.filter(col("doc_id") === 7)
    VectorStore.ingest(edited, dir, mode = "append")
    assert(spark.read.parquet(dir)
      .filter(col("doc_id") === 7).count() > 0)

    // deleting every doc drops every bucket partition directory outright
    val all = spark.read.parquet(dir).select("doc_id").distinct()
      .collect().map(_.getLong(0))
    VectorStore.delete(spark, dir, all.toSeq)
    val remaining = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bucket="))
    assert(remaining.isEmpty,
      s"emptied buckets left behind: ${remaining.map(_.getName).mkString(",")}")
  }

  test("recover replays a pending delete manifest (crash before mutation)") {
    val dir = Files.createTempDirectory("graft_vs_rec").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "text")
    VectorStore.ingest(docs, dir)
    val before = spark.read.parquet(dir)
    val beforeCount = before.count()
    val victimRows = before.filter(col("doc_id") === 5).count()
    val victimBuckets = before.filter(col("doc_id") === 5)
      .select("bucket").distinct().collect().map(_.getInt(0))
    assert(victimRows > 0)
    // a crashed delete() that wrote its intent but died before touching
    // data: journal present, index untouched
    val mdir = new java.io.File(s"$dir/_graft_manifest"); mdir.mkdirs()
    Files.write(java.nio.file.Paths.get(s"$dir/_graft_manifest/delete_0_crash.json"),
      s"""{"docIds":[5],"buckets":[${victimBuckets.mkString(",")}]}"""
        .getBytes("UTF-8"))
    // the journal dir is invisible to readers (underscore prefix)
    assert(spark.read.parquet(dir).count() == beforeCount)

    assert(VectorStore.recover(spark, dir) == 1)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("doc_id") === 5).count() == 0)
    assert(after.count() == beforeCount - victimRows)
    assert(mdir.list().forall(!_.endsWith(".json")), "manifest not retired")
    // nothing pending ⇒ recover is a cheap no-op
    assert(VectorStore.recover(spark, dir) == 0)
  }

  test("recover is idempotent after a completed delete (crash before " +
       "manifest retire)") {
    val dir = Files.createTempDirectory("graft_vs_rec2").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "text")
    VectorStore.ingest(docs, dir)
    val victimBuckets = spark.read.parquet(dir).filter(col("doc_id") === 9)
      .select("bucket").distinct().collect().map(_.getInt(0))
    val removed = VectorStore.delete(spark, dir, Seq(9L))
    assert(removed > 0)
    val settled = spark.read.parquet(dir)
    val settledCount = settled.count()
    // crash AFTER all mutation steps but BEFORE the journal was retired:
    // the same intent is still pending and gets replayed
    Files.write(java.nio.file.Paths.get(s"$dir/_graft_manifest/delete_0_crash.json"),
      s"""{"docIds":[9],"buckets":[${victimBuckets.mkString(",")}]}"""
        .getBytes("UTF-8"))
    assert(VectorStore.recover(spark, dir) == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == settledCount, "replay changed a settled index")
    assert(after.filter(col("doc_id") === 9).count() == 0)
  }

  test("golden reads: every route, single and batch, hashes as recorded") {
    import GoldenReads.Route
    val d = indexDir
    val qs = GoldenReads.queries(spark, d)
    GoldenReads.check(spark, qs, Seq(
      Route("search", VectorStore.search(spark, d, _, 5),
        VectorStore.searchBatch(spark, d, _, 5)),
      Route("tagRange", VectorStore.searchTagRange(spark, d, _, 0L, 0L, 5),
        VectorStore.searchTagRangeBatch(spark, d, _, 0L, 0L, 5)),
      Route("diverse", VectorStore.searchDiverse(spark, d, _, 5),
        VectorStore.searchDiverseBatch(spark, d, _, 5)),
      Route("compressed", VectorStore.searchCompressed(spark, d, _, 5),
        VectorStore.searchCompressedBatch(spark, d, _, 5)),
      Route("truncated", VectorStore.searchTruncated(spark, d, _, 5),
        VectorStore.searchTruncatedBatch(spark, d, _, 5)),
      Route("cells", VectorStore.searchCells(spark, d, _, 5),
        VectorStore.searchCellsBatch(spark, d, _, 5)),
      Route("compressedCells", VectorStore.searchCompressedCells(spark, d, _, 5),
        VectorStore.searchCompressedCellsBatch(spark, d, _, 5))),
      // recorded on the code before the read core was unified
      Map(
        "search" -> (("cbd05770a12d8188", "cbd05770a12d8188")),
        "tagRange" -> (("cbd05770a12d8188", "cbd05770a12d8188")),
        "diverse" -> (("2e82283573bbb29f", "5a25e80384a4093d")),
        "compressed" -> (("5a2fe4dbb02e1589", "5a2fe4dbb02e1589")),
        "truncated" -> (("cbd05770a12d8188", "cbd05770a12d8188")),
        "cells" -> (("321f2da4d7d91c6d", "321f2da4d7d91c6d")),
        "compressedCells" -> (("96941150742919f6", "96941150742919f6"))))
  }

  test("single search, searchCells and searchCompressed stay within their job counts") {
    val q = GoldenReads.queries(spark, indexDir).head
    // (read, the jobs it ran before the read core was unified)
    val runs = Seq(
      ("search", () => VectorStore.search(spark, indexDir, q, 5).collect(), 4),
      ("searchCells", () => VectorStore.searchCells(spark, indexDir, q, 5).collect(), 4),
      ("searchCompressed", () =>
        VectorStore.searchCompressed(spark, indexDir, q, 5).collect(), 10))
    runs.foreach { case (name, run, recorded) =>
      val jobs = JobCounter(spark)(run())._2.jobs
      info(s"$name: $jobs jobs (recorded $recorded)")
      assert(jobs <= recorded, s"$name ran $jobs jobs, more than the recorded $recorded")
    }
  }
}
