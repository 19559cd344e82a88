package graft

import graft.operators.{VectorStore, VectorStoreLex}
import graft.sources.{ParquetFooters, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** F34/G42 crash-window atomicity (the r12 verdict's item #4): a kill at
  * ANY point of `edit()` must recover — via `recover()` — to the
  * pre-edit state (crash before the intent manifest commits) or the
  * post-edit state (after), NEVER a partial splice. Each injected crash
  * point replays edit's real sub-steps up to the cut on a byte-copied
  * clone of the pre-edit store, then recovers and compares the full
  * SERVING state (index rows, graph edges, hybrid/lexical reads)
  * against an uninterrupted reference edit. P0–P4 cut between the
  * steps an edit ran as delete then append; P5–P8 cut inside the one
  * merge that replaced them (after its overwrite, halfway through the
  * overwrite's commit, between the lexical doclog and postings writes,
  * and between a partition's delete and its rename at commit). The
  * lexical doclog is a log
  * by design — superseded history rows may differ across crash
  * replays; its keep-latest DERIVED state is what must (and does)
  * match, which the hybrid/lex reads pin. */
class EditCrashSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  private def freshClone(pre: String): String = {
    val dir = Files.createTempDirectory("graft_ecr").toString + "/index"
    copyDir(pre, dir)
    spark.catalog.refreshByPath(dir)
    dir
  }

  // the full serving state: index rows (column-name-sorted, row-sorted),
  // graph edge rows, and the hybrid + lexical reads for probe queries
  private def servingState(dir: String, probes: Seq[String]): Seq[Any] = {
    spark.catalog.refreshByPath(dir)
    val idx = spark.read.parquet(dir)
    val rows = idx.select(idx.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val edges = spark.read.parquet(s"$dir/_graft_graph/edges.parquet")
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val reads = probes.flatMap { q =>
      VectorStoreLex.searchHybrid(spark, dir, q, k = 5).collect()
        .map(_.toSeq).toSeq ++
        VectorStoreLex.searchLex(spark, dir, q, k = 5).collect()
          .map(_.toSeq).toSeq
    }
    Seq(rows, edges, reads)
  }

  test("edit recovers to pre- or post-edit state from every crash window") {
    val pre = Files.createTempDirectory("graft_ecr_pre").toString + "/index"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(VectorStore.ingest(docs.filter(col("doc_id") < 25), pre) > 0)
    assert(VectorStore.buildGraph(spark, pre) > 0)
    val victim = 7L
    val newDoc = docs.filter(col("doc_id") === 107)
      .select(lit(victim).as("doc_id"), col("text"))
    val probes = Seq(
      spark.read.parquet(pre).filter(col("doc_id") === victim
        && col("chunk_ix") === 1).select("chunk").head().getString(0),
      spark.read.parquet(pre).filter(col("doc_id") === 3
        && col("chunk_ix") === 1).select("chunk").head().getString(0))
    val preState = servingState(pre, probes)

    // reference: the same edit, uninterrupted
    val ref = freshClone(pre)
    val (r, a) = VectorStore.edit(spark, ref, Seq(victim), newDoc)
    assert(r > 0 && a > 0)
    val postState = servingState(ref, probes)
    assert(postState != preState)

    def stage(dir: String): String = {
      val staged = s"$dir/_graft_edit/staged_spec"
      newDoc.write.mode("overwrite").parquet(staged)
      staged
    }
    def commitManifest(dir: String, staged: String): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(
        s"$dir/_graft_manifest/edit_spec.json")
      val out = fs.create(p, true)
      try out.write(
        (s"""{"docIds":[$victim],"staged":"$staged",""" +
          """"knobs":[20,5,0]}""").getBytes("UTF-8"))
      finally out.close()
    }

    // P0: crash after staging, BEFORE the manifest commits → pre-edit,
    // and the orphaned staging dir is swept
    {
      val dir = freshClone(pre)
      stage(dir)
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == preState, "P0 not pre-edit")
      assert(!new java.io.File(s"$dir/_graft_edit/staged_spec").exists(),
        "P0 orphan stage not swept")
    }
    // P1: manifest committed, nothing else ran → post-edit
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      assert(VectorStore.recover(spark, dir) == 1)
      assert(servingState(dir, probes) == postState, "P1 not post-edit")
    }
    // P2: crash between the delete sub-step and the graph splice-out
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      VectorStore.delete(spark, dir, Seq(victim))
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P2 not post-edit")
    }
    // P3: crash between the graph splice-out and the append
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      VectorStore.delete(spark, dir, Seq(victim))
      VectorStore.spliceGraphDelete(spark, dir, Seq(victim))
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P3 not post-edit")
    }
    // P4: crash after the append, before the graph splice-in — the
    // replay's delete removes the half-spliced new rows, then redoes
    // the append + splice
    {
      val dir = freshClone(pre)
      val staged = stage(dir)
      commitManifest(dir, staged)
      VectorStore.delete(spark, dir, Seq(victim))
      VectorStore.spliceGraphDelete(spark, dir, Seq(victim))
      VectorStore.ingest(spark.read.parquet(staged), dir, mode = "append")
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P4 not post-edit")
    }

    // the merge's own windows, built from the reference run's tree: its
    // index data files by partition dir (bucket=b/cell=c)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def partitions(dir: String): Map[String, Set[String]] =
      ParquetFooters.files(spark, dir).toSeq.groupBy(f =>
        s"${f.getParent.getParent.getName}/${f.getParent.getName}")
        .view.mapValues(_.map(_.getName).toSet).toMap
    def buckets(dir: String): Seq[String] =
      new java.io.File(dir).list().toSeq.filter(_.startsWith("bucket="))

    // P5: the merged overwrite has committed (the reference's index data,
    // emptied partitions dropped); no zone map, lexical generation or
    // graph splice yet
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      buckets(dir).foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$b"), true))
      buckets(ref).foreach(b => copyDir(s"$ref/$b", s"$dir/$b"))
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P5 not post-edit")
    }
    // P6: a partial overwrite — the commit replaced only half of the
    // partitions the merge rewrote
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      val before = partitions(dir)
      val rewritten = partitions(ref).filter { case (p, files) =>
        !before.get(p).contains(files) }.keys.toSeq.sorted
      assert(rewritten.size >= 2, s"the edit rewrote $rewritten")
      rewritten.indices.filter(_ % 2 == 0).map(rewritten).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true)
        copyDir(s"$ref/$p", s"$dir/$p")
      }
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P6 not post-edit")
    }
    // P7: the overwrite committed and the lexical generation's doclog
    // rows landed, but only some of its postings files did — the replay
    // must write its postings above that generation, not beside them
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      buckets(dir).foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$b"), true))
      buckets(ref).foreach(b => copyDir(s"$ref/$b", s"$dir/$b"))
      val doclog = "_graft_lex/doclog"
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$doclog"), true)
      copyDir(s"$ref/$doclog", s"$dir/$doclog")
      def postings(d: String): Set[String] = ParquetFooters.files(spark,
        s"$d/_graft_lex/postings").map(f => s"${f.getParent.getName}/${f.getName}").toSet
      val landed = (postings(ref) -- postings(pre)).toSeq.sorted
      assert(landed.size >= 2, s"the edit wrote postings files $landed")
      landed.indices.filter(_ % 2 == 0).map(landed).foreach { f =>
        val to = Paths.get(s"$dir/_graft_lex/postings/$f")
        Files.createDirectories(to.getParent)
        Files.copy(Paths.get(s"$ref/_graft_lex/postings/$f"), to)
      }
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P7 not post-edit")
    }
    // P8: cut inside the overwrite's commit. Spark staged every rewritten
    // partition under .spark-staging-*, swapped the first ones in, and
    // deleted the next live dir — one holding rows of other docs — but
    // did not rename its staged content into place
    {
      val dir = freshClone(pre)
      commitManifest(dir, stage(dir))
      val before = partitions(dir)
      val rewritten = partitions(ref).filter { case (p, files) =>
        !before.get(p).contains(files) }.keys.toSeq.sorted
      val cut = rewritten.indexWhere(p => before.contains(p) &&
        spark.read.parquet(s"$pre/$p").filter(col("doc_id") =!= victim)
          .count() > 0)
      assert(cut >= 0, s"no rewritten partition of $rewritten keeps other docs")
      val staging = s"$dir/.spark-staging-spec"
      rewritten.zipWithIndex.foreach { case (p, i) =>
        if (i >= cut) copyDir(s"$ref/$p", s"$staging/$p")
        if (i <= cut) fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true)
        if (i < cut) copyDir(s"$ref/$p", s"$dir/$p")
      }
      VectorStore.recover(spark, dir)
      assert(servingState(dir, probes) == postState, "P8 not post-edit")
      assert(!new java.io.File(staging).exists(), "P8 staging dir left")
    }
  }
}
