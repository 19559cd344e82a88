package graft

import graft.operators.VectorStore
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The store encodes every chunk row-locally (graft_nearest_cell_l /
  * graft_nearest_l over driver-read frozen sidecars). Pins:
  *   - parity: the stored `cell`, `codes` and `rcodes` are bit-equal to
  *     the former join-based encoder ([[JoinEncodeOracle]]) on creation,
  *     append, retrainCells and a 16-cell store, with the written column
  *     order unchanged;
  *   - job budget (ROADMAP D3b): a 5-doc append to a standing store runs
  *     at most 15 Spark jobs, and its index write is ONE job with no
  *     Exchange — a change that brings the encode shuffles back fails
  *     here. */
class StoreEncodeSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val freshCols = Seq("doc_id", "chunk_ix", "chunk", "raw",
    "embedding", "codes", "rcodes", "batch_tag", "sscale", "scodes",
    "pcodes", "bucket", "cell")

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")
  private def ids(lo: Int, hi: Int) = docs.filter(col("doc_id") >= lo &&
    col("doc_id") < hi)

  private def assertParity(dir: String, cols: Seq[String], what: String): Unit = {
    spark.catalog.refreshByPath(dir)
    val stored = spark.read.parquet(dir)
    assert(stored.columns.toSeq == cols, s"$what: written column order")
    val enc = Seq("doc_id", "chunk_ix", "cell", "codes", "rcodes")
    def render(df: org.apache.spark.sql.DataFrame) =
      df.select(enc.map(col): _*).collect().map(_.toString).sorted.toSeq
    val want = render(JoinEncodeOracle.encodeStore(spark, dir))
    val got = render(stored)
    assert(want.nonEmpty && got == want,
      s"$what: row-local encode diverged from the join oracle on " +
        s"${got.diff(want).size} of ${got.size} rows: ${got.diff(want).take(3)}")
  }

  private def fresh(tag: String, hi: Int, cells: Int = VectorStore.KmCells) = {
    val dir = Files.createTempDirectory(s"graft_enc_$tag").toString + "/index"
    assert(VectorStore.ingest(ids(0, hi), dir, cells = cells) > 0)
    dir
  }

  private lazy val standing = fresh("standing", 24)

  test("a 5-doc append: ≤ 15 jobs, one exchange-free index-write job, " +
      "creation and append rows bit-equal to the join oracle") {
    val dir = standing
    assertParity(dir, freshCols, "creation")
    val (added, trace) = JobCounter(spark) {
      VectorStore.ingest(ids(24, 29), dir, mode = "append", batchTag = 1L)
    }
    assert(added > 0)
    assert(trace.jobs <= 15,
      s"5-doc append ran ${trace.jobs} jobs (D3b budget: 15)")
    // the write partitioned by (bucket, cell) — the formatted plan lists
    // the partition columns in the command's Arguments line
    val writes = trace.executions(
      "(?s)InsertIntoHadoopFsRelationCommand.*\\[bucket#\\d+, cell#\\d+\\]")
    assert(writes.size == 1, s"expected one index write, saw ${writes.size}")
    assert(trace.jobsByExecution(writes.head) == 1,
      s"index write ran ${trace.jobsByExecution(writes.head)} jobs")
    val plan = trace.plans(writes.head)
    assert(!plan.contains("Exchange"), s"index write shuffles:\n$plan")
    assertParity(dir, freshCols, "append")
  }

  test("retrainCells re-encodes bit-equal to the join oracle") {
    val dir = standing
    assert(VectorStore.retrainCells(spark, dir) > 0)
    assertParity(dir, freshCols, "retrainCells")
  }

  test("16-cell store: creation and append bit-equal to the join oracle") {
    val dir = fresh("k16", 24, cells = 16)
    assert(VectorStore.ingest(ids(24, 29), dir, mode = "append",
      cells = 16) > 0)
    assertParity(dir, freshCols, "16-cell")
  }
}
