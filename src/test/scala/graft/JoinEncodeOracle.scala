package graft

import graft.operators.VectorStore.{PqM, PqSubDim}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The store's former join-based encoder, kept as a test oracle for the
  * row-local kernels that replaced it: broadcast the K-row sidecar across
  * the batch, rank every (chunk[, subspace]) pairing with a window, keep
  * rank 1, and regroup per-subspace winners with collect_list. Same exact
  * arithmetic (int64 sqdist; the (‖S‖² − 2·x·S·n)/n² cell score), same
  * ties (smaller id). */
object JoinEncodeOracle {
  private val ResScale = 1L << 16

  private def subvecs(v: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)),
      m => slice(v, m * lit(PqSubDim) + 1, lit(PqSubDim)))

  private def permuteRaw(v: Column, perm: Seq[Int]): Column =
    array(perm.map(d => element_at(v, d + 1)): _*)

  private def cmeanScaled(csum: Seq[Long], n: Long): Seq[Long] =
    csum.map(s => s / n * ResScale + s % n * ResScale / n)

  /** (doc_id, chunk_ix, cell): nearest frozen cell per chunk. */
  def cellAssign(centroids: DataFrame, batch: DataFrame): DataFrame = {
    val wMin = Window.partitionBy("doc_id", "chunk_ix")
      .orderBy(col("score"), col("cell"))
    batch.select(col("doc_id"), col("chunk_ix"), col("raw"))
      .join(broadcast(centroids))
      .select(col("doc_id"), col("chunk_ix"), col("cell"),
        ((call_function("graft_dot_l", col("csum"), col("csum"))
          - lit(2) * call_function("graft_dot_l", col("raw"), col("csum")) * col("n"))
          .cast("double") / (col("n") * col("n")).cast("double")).as("score"))
      .withColumn("rk", row_number().over(wMin))
      .filter(col("rk") === 1)
      .select("doc_id", "chunk_ix", "cell")
  }

  /** (doc_id, chunk_ix, `out`): per-subspace nearest codebook ids of the
    * vector column `vec`. */
  def pqEncode(codebook: DataFrame, batch: DataFrame, vec: Column,
      out: String): DataFrame = {
    val wMin = Window.partitionBy("doc_id", "chunk_ix", "m")
      .orderBy(col("dist"), col("j"))
    batch.select(col("doc_id"), col("chunk_ix"), posexplode(subvecs(vec)))
      .select(col("doc_id"), col("chunk_ix"), col("pos").as("m"), col("col").as("sub"))
      .join(broadcast(codebook), "m")
      .withColumn("dist", call_function("graft_sqdist_l", col("sub"), col("cent")))
      .withColumn("rk", row_number().over(wMin))
      .filter(col("rk") === 1)
      .groupBy("doc_id", "chunk_ix")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("j")))),
        e => e.getField("j")).as(out))
  }

  /** Every stored row of the store at `dir` re-encoded from its `raw`
    * against the store's own frozen sidecars: (doc_id, chunk_ix, cell,
    * codes, rcodes). */
  def encodeStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.catalog.refreshByPath(dir)
    val rows = spark.read.parquet(dir).select("doc_id", "chunk_ix", "raw")
    val perm = spark.read.parquet(s"$dir/_graft_pq/perm.parquet").orderBy("p")
      .collect().map(_.getInt(1)).toSeq
    val centroids = spark.read.parquet(s"$dir/_graft_cells/centroids.parquet")
    val cmeans = centroids.collect()
      .map(r => (r.getInt(0), cmeanScaled(r.getSeq[Long](1), r.getLong(2))))
      .toSeq.toDF("cell", "cmean")
    val celled = rows.join(cellAssign(centroids, rows), Seq("doc_id", "chunk_ix"))
    val coded = celled.join(pqEncode(
      spark.read.parquet(s"$dir/_graft_pq/codebook.parquet"), rows,
      permuteRaw(col("raw"), perm), "codes"), Seq("doc_id", "chunk_ix"))
    val withRes = celled.join(broadcast(cmeans), "cell")
      .withColumn("rres",
        zip_with(col("raw"), col("cmean"), (x, c) => x * ResScale - c))
    coded.drop("raw").join(pqEncode(
      spark.read.parquet(s"$dir/_graft_pq/rescb.parquet"), withRes,
      col("rres"), "rcodes"), Seq("doc_id", "chunk_ix"))
  }
}
