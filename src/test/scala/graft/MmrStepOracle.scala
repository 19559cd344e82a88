package graft

import graft.operators.VectorStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `VectorStore.searchDiverseBatch`'s former greedy, kept as a test
  * oracle for the grouped one: the cell-probed shortlist and its
  * candidate-pair cosine table checkpoint once, then each of the k picks
  * is a keyed join + aggregate for the redundancy penalty and a window
  * argmax per query (ties to (doc_id, chunk_ix)), one checkpoint per
  * step. */
object MmrStepOracle {
  private def cosine(a: Column, b: Column): Column = {
    val ssA = call_function("graft_dot_l", a, a)
    val ssB = call_function("graft_dot_l", b, b)
    when(ssA > 0 && ssB > 0, call_function("graft_dot_l", a, b).cast("double") /
        (sqrt(ssA.cast("double")) * sqrt(ssB.cast("double"))))
      .otherwise(lit(0.0d))
  }

  private def top1(df: DataFrame, key: Column): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(key, col("doc_id"), col("chunk_ix"))))
      .filter(col("rank") <= 1)

  def searchDiverseBatch(spark: SparkSession, indexDir: String,
      queries: Seq[String], k: Int, nprobe: Int, shortlist: Int,
      lambda: Double): DataFrame = {
    val raws = spark.read.parquet(indexDir).select("doc_id", "chunk_ix", "raw")
    val cand = VectorStore.searchCellsBatch(spark, indexDir, queries, shortlist, nprobe)
      .drop("rank").join(raws, Seq("doc_id", "chunk_ix"))
      .localCheckpoint(true)
    val xs = cand.select(col("query_id"), col("doc_id").as("xd"),
      col("chunk_ix").as("xi"), col("raw").as("xr"))
    val ys = cand.select(col("query_id"), col("doc_id").as("yd"),
      col("chunk_ix").as("yi"), col("raw").as("yr"))
    val sims = xs.join(ys, Seq("query_id"))
      .filter(col("xd") =!= col("yd") || col("xi") =!= col("yi"))
      .select(col("query_id"), col("xd"), col("xi"), col("yd"), col("yi"),
        cosine(col("xr"), col("yr")).as("cos"))
      .localCheckpoint(true)
    var sel = top1(cand, col("score").desc)
      .select(col("query_id"), lit(1L).as("rank"), col("doc_id"),
        col("chunk_ix"), col("chunk"), col("score"),
        (lit(lambda) * col("score")).as("mmr"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val pen = sims
        .join(sel.select(col("query_id"), col("doc_id").as("yd"),
          col("chunk_ix").as("yi")), Seq("query_id", "yd", "yi"))
        .groupBy("query_id", "xd", "xi").agg(max("cos").as("pen"))
        .withColumnRenamed("xd", "doc_id").withColumnRenamed("xi", "chunk_ix")
      val scoredStep = cand
        .join(sel.select("query_id", "doc_id", "chunk_ix"),
          Seq("query_id", "doc_id", "chunk_ix"), "left_anti")
        .join(pen, Seq("query_id", "doc_id", "chunk_ix"))
        .withColumn("mmr",
          lit(lambda) * col("score") - lit(1.0 - lambda) * col("pen"))
      val pick = top1(scoredStep, col("mmr").desc)
        .select(col("query_id"), lit(step.toLong).as("rank"), col("doc_id"),
          col("chunk_ix"), col("chunk"), col("score"), col("mmr"))
      sel = sel.unionByName(pick).localCheckpoint(true)
    }
    sel.orderBy("query_id", "rank")
  }
}
