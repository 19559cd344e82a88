package graft

import graft.operators.{VectorStore, VectorStoreLex}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** G49 store-plane hybrid retrieval (VectorStoreLex): the BM25
  * inverted-list sidecar + RRF read over the maintained store. Pins the
  * G47 discipline end to end: verbatim self-hit rank 1 on BOTH legs,
  * batch ≡ single, edit/append/delete keep the sidecar EXACTLY
  * consistent (edited store ≡ fresh ingest of the surviving content),
  * the format-gate refusal of older stores, and the postings scan's
  * partition pruning. */
class HybridStoreSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft_hyb").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 100)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("hybrid self-hit: a verbatim chunk query tops BOTH legs, fused rank 1") {
    val sample = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val hits = VectorStoreLex.searchHybrid(spark, indexDir, sample, k = 3)
      .collect()
    assert(hits.nonEmpty)
    val top = hits.head
    assert(top.getAs[Long]("rank") == 1L &&
      top.getAs[Long]("doc_id") == 3L && top.getAs[Int]("chunk_ix") == 1,
      s"self-hit not rank 1: $top")
    // the verbatim chunk maximizes the dense cosine; its BM25 sum over
    // every one of its own terms tops the lexical leg too
    assert(top.getAs[Long]("vec_rank") == 1L &&
      top.getAs[Long]("lex_rank") == 1L, s"legs disagree on self-hit: $top")
    assert(top.getAs[String]("chunk") == sample)
  }

  test("searchHybridBatch matches per-query searchHybrid") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("chunk")
      .limit(3).collect().map(_.getString(0)).distinct.toSeq
    assert(samples.size >= 2)
    val batch = VectorStoreLex.searchHybridBatch(spark, indexDir, samples, k = 4)
      .collect().groupBy(_.getAs[Long]("query_id"))
    samples.zipWithIndex.foreach { case (q, i) =>
      val single = rows(VectorStoreLex.searchHybrid(spark, indexDir, q, k = 4))
      val fromBatch = batch(i.toLong).toSeq.sortBy(_.getAs[Long]("rank"))
        .map(_.toSeq.drop(1)) // drop query_id
      assert(fromBatch == single, s"batch diverged from single for query $i")
    }
  }

  test("edit keeps the sidecar consistent: edited store == fresh ingest") {
    val editedDir = Files.createTempDirectory("graft_hyb_e").toString + "/index"
    val freshDir = Files.createTempDirectory("graft_hyb_f").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 50), editedDir) > 0)
    // replace doc 7's text with doc 107's (keeping doc_id 7)
    val newDoc = docs.filter(col("doc_id") === 107)
      .select(lit(7L).as("doc_id"), col("text"))
    val (removed, added) = VectorStore.edit(spark, editedDir, Seq(7L), newDoc)
    assert(removed > 0 && added > 0)
    // the fresh twin ingests the identical final content in one shot
    val finalDocs = docs.filter(col("doc_id") < 50 && col("doc_id") =!= 7)
      .unionByName(newDoc)
    assert(VectorStore.ingest(finalDocs, freshDir) > 0)

    // probe with the edited doc's chunks, an untouched doc's chunk, and
    // a short partial query (real lexical work, not just self-hits)
    val probes = spark.read.parquet(freshDir)
      .filter((col("doc_id") === 7 || col("doc_id") === 21)
        && col("chunk_ix") === 1)
      .select("chunk").collect().map(_.getString(0)).toSeq
    val partial = probes.head.split(" ").take(5).mkString(" ")
    for (q <- probes :+ partial) {
      val a = rows(VectorStoreLex.searchHybrid(spark, editedDir, q, k = 5))
      val b = rows(VectorStoreLex.searchHybrid(spark, freshDir, q, k = 5))
      assert(a == b, s"edited store diverged from fresh ingest for '$q'")
    }
    // the old doc-7 text no longer serves from the lexical plane
    val oldChunk = spark.read.parquet(indexDir)
      .filter(col("doc_id") === 7 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val post = VectorStoreLex.searchHybrid(spark, editedDir, oldChunk, k = 5)
      .filter(col("doc_id") === 7).collect()
    post.foreach { r =>
      val fresh = VectorStoreLex.searchHybrid(spark, freshDir, oldChunk, k = 5)
        .filter(col("doc_id") === 7).collect()
      assert(r.toSeq == fresh.head.toSeq)
    }
  }

  test("delete kills the lexical plane too: deleted store == fresh ingest") {
    val delDir = Files.createTempDirectory("graft_hyb_d").toString + "/index"
    val freshDir = Files.createTempDirectory("graft_hyb_d2").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 30), delDir) > 0)
    val victim = spark.read.parquet(delDir)
      .filter(col("doc_id") === 11 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    assert(VectorStore.delete(spark, delDir, Seq(11L)) > 0)
    assert(VectorStore.ingest(
      docs.filter(col("doc_id") < 30 && col("doc_id") =!= 11), freshDir) > 0)
    val a = rows(VectorStoreLex.searchHybrid(spark, delDir, victim, k = 5))
    val b = rows(VectorStoreLex.searchHybrid(spark, freshDir, victim, k = 5))
    assert(a == b, "deleted store diverged from fresh ingest")
    assert(!a.exists(_(1) == 11L), s"deleted doc still served: $a")
  }

  test("legacy store without the sidecar: append stays lex-free, read refuses") {
    // a store written before the lexical sidecar also predates the format
    // marker: its append is refused before any job (no partial sidecar
    // over the new batch only), and so are the lexical reads
    val dir = OldStore.unmarked(spark, indexDir, "nolex", "_graft_lex")
    val more = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 100 && col("doc_id") < 105)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, dir, "none")(
      "append" -> (() => VectorStore.ingest(more, dir, mode = "append")),
      "searchHybrid" -> (() => VectorStoreLex.searchHybrid(spark, dir,
        "anything", k = 3)),
      "searchLex" -> (() => VectorStoreLex.searchLex(spark, dir,
        "anything", k = 3)))
    assert(!new java.io.File(s"$dir/_graft_lex").exists,
      "append backfilled a partial lexical sidecar")
  }

  test("searchLex: verbatim self-hit rank 1, batch matches single") {
    val samples = spark.read.parquet(indexDir)
      .orderBy("doc_id", "chunk_ix").select("doc_id", "chunk_ix", "chunk")
      .limit(3).collect()
    val queries = samples.map(_.getString(2)).distinct.toSeq
    val batch = VectorStoreLex.searchLexBatch(spark, indexDir, queries, k = 4)
      .collect().groupBy(_.getAs[Long]("query_id"))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = rows(VectorStoreLex.searchLex(spark, indexDir, q, k = 4))
      val fromBatch = batch(i.toLong).toSeq.sortBy(_.getAs[Long]("rank"))
        .map(_.toSeq.drop(1))
      assert(fromBatch == single, s"lex batch diverged from single for $i")
    }
    // the verbatim chunk contains every query term at full tf — it must
    // sit in the head of its own BM25 list (an exact bag-of-words
    // near-dup can TIE and win the doc_id tie-break, so pin top-4
    // membership and that rank 1 scores no higher than the self row)
    val hits = VectorStoreLex.searchLex(spark, indexDir,
      samples.head.getString(2), k = 4).collect()
    val self = hits.find(r => r.getAs[Long]("doc_id") == samples.head.getLong(0)
      && r.getAs[Int]("chunk_ix") == samples.head.getInt(1))
    assert(self.nonEmpty, s"lex self-hit missing from top-4: ${hits.toSeq}")
    assert(hits.head.getAs[Long]("score") == self.get.getAs[Long]("score"),
      s"a non-tied chunk outscored the verbatim self-hit: ${hits.toSeq}")
  }

  test("compaction drops dead generations, serving state unchanged") {
    val dir = Files.createTempDirectory("graft_hyb_c").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 25), dir) > 0)
    // create dead postings: edit one doc, delete another
    val newDoc = docs.filter(col("doc_id") === 107)
      .select(lit(4L).as("doc_id"), col("text"))
    VectorStore.edit(spark, dir, Seq(4L), newDoc)
    VectorStore.delete(spark, dir, Seq(9L))
    val probes = spark.read.parquet(dir)
      .filter(col("doc_id").isin(4L, 12L) && col("chunk_ix") === 1)
      .select("chunk").collect().map(_.getString(0)).toSeq
    def reads() = probes.flatMap(q =>
      rows(VectorStoreLex.searchHybrid(spark, dir, q, k = 5)) ++
        rows(VectorStoreLex.searchLex(spark, dir, q, k = 5)))
    val before = reads()
    val postsBefore = spark.read.parquet(s"$dir/_graft_lex/postings").count()

    val (kept, dropped) = VectorStoreLex.compactLex(spark, dir)
    assert(dropped > 0, "edit+delete left no dead postings to drop?")
    val postsAfter = spark.read.parquet(s"$dir/_graft_lex/postings").count()
    assert(postsAfter == kept && postsAfter == postsBefore - dropped)
    assert(reads() == before, "compaction changed the serving state")
    // doclog collapsed to one live row per doc (no kill rows, no history)
    val dl = spark.read.parquet(s"$dir/_graft_lex/doclog")
    assert(dl.count() == dl.select("doc_id").distinct().count())
    assert(dl.filter(!col("live")).count() == 0)
    assert(dl.filter(col("doc_id") === 9L).count() == 0)
    // compaction is repeatable and a second pass drops nothing
    val (k2, d2) = VectorStoreLex.compactLex(spark, dir)
    assert(k2 == kept && d2 == 0)
    assert(reads() == before)
  }

  test("compaction crash window: recover() finishes a half-done swap") {
    val dir = Files.createTempDirectory("graft_hyb_cc").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 20), dir) > 0)
    VectorStore.edit(spark, dir,
      Seq(3L), docs.filter(col("doc_id") === 103)
        .select(lit(3L).as("doc_id"), col("text")))
    val probe = spark.read.parquet(dir)
      .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val before = rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))

    // crash after staging (tmp dirs + manifest exist, nothing swapped):
    // reads still serve the OLD sidecar consistently
    VectorStoreLex.stageCompactLex(spark, dir)
    assert(rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
      == before, "staged-but-unswapped compaction changed reads")
    // recover() finishes the swap off the pending manifest
    VectorStore.recover(spark, dir)
    assert(rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
      == before, "recovered compaction changed the serving state")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_manifest/lexcompact.json")), "manifest not retired")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_lex/postings_tmp")), "tmp postings not swapped in")

    // crash MID-swap (postings swapped, doclog not): mixed state still
    // serves identically (compaction preserves liveness), then recover
    VectorStoreLex.stageCompactLex(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_lex/postings"), true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/_graft_lex/postings_tmp"),
      new org.apache.hadoop.fs.Path(s"$dir/_graft_lex/postings")))
    assert(rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
      == before, "mixed swap state changed reads")
    VectorStore.recover(spark, dir)
    assert(rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
      == before)
  }

  test("recover order: pending compaction swaps BEFORE a delete replays " +
    "(r13 advice — kill rows must land on the post-swap doclog)") {
    val dir = Files.createTempDirectory("graft_hyb_ro").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 20), dir) > 0)
    // dead generations so the compaction actually rewrites something
    VectorStore.edit(spark, dir, Seq(3L), docs.filter(col("doc_id") === 103)
      .select(lit(3L).as("doc_id"), col("text")))
    val victimChunk = spark.read.parquet(dir)
      .filter(col("doc_id") === 5 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    // crash state: compaction staged + manifest committed (swap not run)…
    VectorStoreLex.stageCompactLex(spark, dir)
    // …AND a delete of doc 5 that crashed right after its intent manifest
    // (no bucket deletion, no kill row yet) — the co-existence the r13
    // advice flagged: replay-then-swap would discard the replayed kill row
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val buckets = spark.read.parquet(dir).filter(col("doc_id") === 5)
      .select("bucket").distinct().collect().map(_.getInt(0))
    val mf = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_manifest/delete_00000000000001_1.json")
    val out = fs.create(mf, true)
    try out.write(
      s"""{"docIds":[5],"buckets":[${buckets.mkString(",")}]}"""
        .getBytes("UTF-8"))
    finally out.close()

    VectorStore.recover(spark, dir)
    // the deleted doc must be dead in BOTH planes after recovery
    val hits = rows(VectorStoreLex.searchHybrid(spark, dir, victimChunk, k = 5))
    assert(!hits.exists(_(1) == 5L),
      s"doc 5 resurrected in the lexical leg after recover(): $hits")
    assert(spark.read.parquet(dir).filter(col("doc_id") === 5).count() == 0)
    val latest = spark.read.parquet(s"$dir/_graft_lex/doclog")
      .groupBy("doc_id").agg(max(struct(col("gen"), col("live"))).as("m"))
      .filter(col("doc_id") === 5).select("m.live").collect()
    assert(latest.nonEmpty && !latest.head.getBoolean(0),
      "doc 5's kill row was lost under the compaction swap")
  }

  test("empty doclog (zero-row create) yields gen 1, not an NPE") {
    val dir = Files.createTempDirectory("graft_hyb_eg").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 10), dir) > 0)
    // simulate a doclog created over an empty batch: schema, zero rows
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dlPath = s"$dir/_graft_lex/doclog"
    val empty = spark.read.parquet(dlPath).limit(0)
    val tmp = Files.createTempDirectory("graft_hyb_eg2").toString + "/dl"
    empty.write.parquet(tmp)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dlPath), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(dlPath)))
    // delete logs its lexical kill row through nextGen — pre-fix this
    // NPE'd on max(gen) = NULL; post-fix the kill row lands at gen 1
    assert(VectorStore.delete(spark, dir, Seq(3L)) > 0)
    val kill = spark.read.parquet(dlPath).filter(col("doc_id") === 3).collect()
    assert(kill.length == 1 && kill.head.getAs[Long]("gen") == 1L &&
      !kill.head.getAs[Boolean]("live"), s"kill row wrong: ${kill.toSeq}")
  }

  test("pre-commit compaction orphans (_tmp, no manifest) are swept by recover") {
    val dir = Files.createTempDirectory("graft_hyb_os").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 15), dir) > 0)
    val probe = spark.read.parquet(dir)
      .filter(col("doc_id") === 2 && col("chunk_ix") === 1)
      .select("chunk").collect().head.getString(0)
    val before = rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
    // crash in stageCompactLex BEFORE the manifest commit: tmp dirs exist,
    // no manifest — nothing was promised, recover() must sweep the orphans
    VectorStoreLex.stageCompactLex(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_manifest/lexcompact.json"), false))
    VectorStore.recover(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_lex/postings_tmp")), "orphan postings_tmp not swept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_lex/doclog_tmp")), "orphan doclog_tmp not swept")
    assert(rows(VectorStoreLex.searchHybrid(spark, dir, probe, k = 5))
      == before, "orphan sweep changed the serving state")
  }

  test("phrase: a hit requires ADJACENCY — both terms non-adjacent do not match") {
    val dir = Files.createTempDirectory("graft_hyb_p").toString + "/index"
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),             // "alpha beta" at start 0
      (2L, "alpha gamma beta alpha epsilon"),     // both terms, never adjacent
      (3L, "beta alpha beta gamma"),              // match at start 1
      (4L, "alpha beta zeta alpha beta")          // two occurrences
    ).toDF("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 0)
    val hits = VectorStoreLex.searchPhrase(spark, dir, "alpha beta", k = 5)
      .collect()
    val byDoc = hits.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_matches")).toMap
    assert(!byDoc.contains(2L),
      s"non-adjacent doc 2 served as a phrase hit: ${hits.toSeq}")
    assert(byDoc.get(1L).contains(1L) && byDoc.get(3L).contains(1L) &&
      byDoc.get(4L).contains(2L), s"phrase matches wrong: ${hits.toSeq}")
    // occurrence count ranks doc 4 first
    assert(hits.head.getAs[Long]("doc_id") == 4L &&
      hits.head.getAs[Long]("rank") == 1L)
    // duplicate-term phrase: "alpha beta alpha" only in doc 4? no — doc 4
    // has alpha@0 beta@1 zeta@2 alpha@3 beta@4: start 0 needs alpha@2 (no).
    // doc 2: alpha@0 gamma@1 beta@2 alpha@3: start... needs beta@1 (no).
    val dup = VectorStoreLex.searchPhrase(spark, dir, "beta alpha beta", k = 5)
      .collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("doc_id") == 3L,
      s"duplicate-term phrase wrong: ${dup.toSeq}")
    // single-term phrase degenerates to term lookup with n_matches = tf
    val single = VectorStoreLex.searchPhrase(spark, dir, "alpha", k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_matches"))
      .toMap
    assert(single == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L),
      s"single-term phrase tf wrong: $single")
  }

  test("phrase batch == single, rank for rank") {
    val phrases = Seq("alpha beta", "beta alpha beta", "gamma")
    val dir = Files.createTempDirectory("graft_hyb_pb").toString + "/index"
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha gamma beta alpha epsilon"),
      (3L, "beta alpha beta gamma"),
      (4L, "alpha beta zeta alpha beta")
    ).toDF("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 0)
    val batch = VectorStoreLex.searchPhraseBatch(spark, dir, phrases, k = 4)
      .collect().groupBy(_.getAs[Long]("query_id"))
    phrases.zipWithIndex.foreach { case (p, i) =>
      val single = rows(VectorStoreLex.searchPhrase(spark, dir, p, k = 4))
      val fromBatch = batch.getOrElse(i.toLong, Array.empty).toSeq
        .sortBy(_.getAs[Long]("rank")).map(_.toSeq.drop(1))
      assert(fromBatch == single, s"phrase batch diverged for '$p'")
    }
  }

  test("phrase serving survives edit + delete + compaction (== fresh ingest)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hyb_pe").toString + "/index"
    val freshDir = Files.createTempDirectory("graft_hyb_pf").toString + "/index"
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "gamma alpha beta"),
      (4L, "alpha gamma beta")
    ).toDF("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > 0)
    // edit doc 2 to REMOVE its phrase, delete doc 3, compact
    VectorStore.edit(spark, dir, Seq(2L),
      Seq((2L, "delta alpha zeta beta")).toDF("doc_id", "text"))
    VectorStore.delete(spark, dir, Seq(3L))
    VectorStoreLex.compactLex(spark, dir)
    val finalDocs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta alpha zeta beta"),
      (4L, "alpha gamma beta")
    ).toDF("doc_id", "text")
    assert(VectorStore.ingest(finalDocs, freshDir) > 0)
    val a = rows(VectorStoreLex.searchPhrase(spark, dir, "alpha beta", k = 5))
    val b = rows(VectorStoreLex.searchPhrase(spark, freshDir, "alpha beta", k = 5))
    assert(a == b, s"phrase serving diverged from fresh ingest: $a vs $b")
    assert(a.map(_(1)) == Seq(1L), s"only doc 1 still holds the phrase: $a")
  }

  test("pre-positions store: append stays position-free, phrase read refuses") {
    // a store written before positional postings also predates the format
    // marker: its append cannot add positions for only the new rows (it
    // is refused before any job), and the phrase and BM25 reads refuse
    // too — re-ingest upgrades it
    val dir = OldStore.unmarked(spark, indexDir, "nopos")
    val postingCols = spark.read.parquet(s"$dir/_graft_lex/postings").columns.toSeq
    val more = Tables.documents(spark, sf).filter(col("doc_id") === 111)
      .select("doc_id", "text")
    OldStore.assertRefused(spark, dir, "none")(
      "append" -> (() => VectorStore.ingest(more, dir, mode = "append")),
      "searchPhrase" -> (() => VectorStoreLex.searchPhrase(spark, dir,
        "alpha beta")),
      "searchPhraseBatch" -> (() => VectorStoreLex.searchPhraseBatch(spark,
        dir, Seq("alpha beta"))),
      "searchLex" -> (() => VectorStoreLex.searchLex(spark, dir,
        "alpha beta", k = 3)))
    spark.catalog.refreshByPath(s"$dir/_graft_lex/postings")
    assert(spark.read.parquet(s"$dir/_graft_lex/postings").columns.toSeq ==
      postingCols, "a refused append changed the postings schema")
  }

  test("postings scan prunes to the query terms' md5 partitions") {
    val df = VectorStoreLex.searchHybrid(spark, indexDir, "the quick fox", k = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val postingScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings"))
    assert(postingScan.exists(l => l.contains("PartitionFilters")
        && l.contains("tbkt")),
      s"postings scan not partition-pruned on tbkt:\n$plan")
  }

  test("golden reads: the dense leg over a pre-filtered index hashes as recorded") {
    import GoldenReads.Route
    import graft.operators.DenseLeg
    val idx = spark.read.parquet(indexDir).filter(col("doc_id") % 2 === 1)
    GoldenReads.check(spark, GoldenReads.queries(spark, indexDir), Seq(
      Route("denseLeg", q => DenseLeg(spark, idx, Seq(q), 5).drop("query_id"),
        DenseLeg(spark, idx, _, 5), topK = false)),
      Map("denseLeg" -> (("52a755fd578c00bf", "52a755fd578c00bf"))))
  }
}
