package graft

import graft.operators.{Similarity, VectorStore}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The one quantizer layer (`graft.operators.Quantizers`) against the
  * join encodes and window/groupBy Lloyd rounds it replaced
  * ([[QuantizerOracle]]), bit for bit at sf0.001: the trained codebooks,
  * permutations and cell sums and the codes of every registry PQ family
  * (PQ, Lloyd-PQ, OPQ, per-cell OPQ, residual), and a new store's
  * sidecars. */
class QuantizerParitySpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString(",")
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  private def cbRows(cb: Seq[(Int, Int, Array[Long])]): Seq[String] =
    cb.map { case (j, m, c) => s"$j|$m|${c.mkString(",")}" }.sorted

  private def cellCbRows(cbs: Map[Int, Seq[(Int, Int, Array[Long])]]): Seq[String] =
    cbs.toSeq.flatMap { case (label, cb) => cb.flatMap { case (j, m, c) =>
      c.zipWithIndex.map { case (x, sd) => s"$label|$j|$m|$sd|$x" } } }.sorted

  private def same(what: String, got: Seq[String], want: Seq[String]): Unit =
    assert(want.nonEmpty && got == want,
      s"$what diverged from the join oracle (${got.size} vs ${want.size} rows): " +
        s"${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")

  test("PQ, Lloyd-PQ and OPQ: codebooks, permutation and codes equal the join oracle") {
    val sub = QuantizerOracle.corpusSub(spark, sf)
    val seeds = QuantizerOracle.seedCb(sub)
    val cb = Similarity.pqSeeds(spark, sf)
    same("PQ codebook", cbRows(cb), rows(seeds))
    same("PQ codes", rows(Similarity.pqCodes(spark, sf, cb)),
      rows(QuantizerOracle.joinEncode(sub, seeds)))
    val lloyd = QuantizerOracle.lloydCb(sub, seeds).select("j", "m", "cent")
    val lcb = Similarity.pqLloydCb(spark, sf)
    same("Lloyd codebook", cbRows(lcb), rows(lloyd))
    same("Lloyd codes", rows(Similarity.pqCodes(spark, sf, lcb)),
      rows(QuantizerOracle.joinEncode(sub, lloyd)))
    val perm = Similarity.opqPerm(spark, sf)
    assert(perm == QuantizerOracle.opqSrcOrder(spark, sf), "OPQ permutation")
    assert(perm != (0 until 64), "identity permutation: the OPQ check is vacuous")
    val osub = QuantizerOracle.corpusSub(spark, sf, Some(perm))
    val oseeds = QuantizerOracle.seedCb(osub)
    val ocb = Similarity.pqSeeds(spark, sf, Some(perm))
    same("OPQ codebook", cbRows(ocb), rows(oseeds))
    same("OPQ codes", rows(Similarity.pqCodes(spark, sf, ocb, Some(perm))),
      rows(QuantizerOracle.joinEncode(osub, oseeds)))
  }

  test("per-cell OPQ and residual: trained artifacts and codes equal the join oracle") {
    val t = Similarity.opqCells(spark, sf)
    same("per-cell permutations", t.perms.toSeq.flatMap { case (label, src) =>
      src.zipWithIndex.map { case (d, p) => s"$label|$d|${p / 8}|${p % 8}" }
    }.sorted, rows(QuantizerOracle.opqCellPerm(spark, sf)))
    same("per-cell codebooks", cellCbRows(t.cbs),
      rows(QuantizerOracle.opqCellCb(spark, sf)))
    same("per-cell OPQ codes", rows(Similarity.opqCellCodes(spark, sf, t)),
      rows(QuantizerOracle.opqCellCodes(spark, sf)))
    val r = Similarity.resCells(spark, sf)
    same("residual cell sums", r.sums.toSeq.flatMap { case (label, (cs, n)) =>
      cs.zipWithIndex.map { case (c, d) => s"$label|$d|$c|$n" }
    }.sorted, rows(QuantizerOracle.resCellSum(spark, sf)))
    same("residual codebooks", cellCbRows(r.cbs),
      rows(QuantizerOracle.resCellCb(spark, sf)))
    same("residual codes", rows(Similarity.resCellCodes(spark, sf, r)),
      rows(QuantizerOracle.resCellCodes(spark, sf)))
  }

  test("a new store's perm, codebook, centroids and rescb sidecars equal the " +
      "window-Lloyd training") {
    val dir = Files.createTempDirectory("graft_qparity").toString + "/index"
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "text")
    assert(VectorStore.ingest(docs, dir) > VectorStore.PqK)
    val batch = spark.read.parquet(dir).select("doc_id", "chunk_ix", "raw")
    val (perm, cb, cells, rescb) = QuantizerOracle.trainStore(batch, VectorStore.KmCells)
    def sidecar(path: String) = spark.read.parquet(s"$dir/$path")
    assert(sidecar("_graft_pq/perm.parquet").orderBy("p").collect()
      .map(_.getInt(1)).toSeq == perm, "OPQ permutation sidecar")
    Seq(("codebook", "_graft_pq/codebook.parquet", cb),
        ("centroids", "_graft_cells/centroids.parquet", cells),
        ("rescb", "_graft_pq/rescb.parquet", rescb)).foreach { case (what, path, want) =>
      val got = sidecar(path)
      assert(got.schema.map(f => (f.name, f.dataType.simpleString)) ==
        want.schema.map(f => (f.name, f.dataType.simpleString)), s"$what schema")
      same(what, rows(got), rows(want))
    }
  }
}
