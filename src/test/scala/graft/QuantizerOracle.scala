package graft

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The quantizer trainings and encodes the registry (Similarity) and the
  * store (VectorStore) ran before they shared one quantizer layer, kept
  * as a test oracle for it: every encode is a broadcast join of the
  * codebook plus a per-(vector, subspace) argmin — a `min(struct(dist,
  * j))` groupBy in the registry, a `row_number` window in the store —
  * and every Lloyd round assigns the same way before its (key, pos) sum
  * and count. Same exact int64 arithmetic, same ties (smaller id). */
object QuantizerOracle {
  private val VecDim = 64
  private val PqM = 8
  private val PqSub = VecDim / PqM
  private val PqK = 16

  private def q4vec(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(1.0e4) + lit(0.5)))

  private def sq(a: Column, b: Column): Column =
    call_function("graft_sqdist_l", a, b)

  // ---- registry (B7, B22, B23, B24, B25) --------------------------------

  private def opqVec(v: Column, src: Seq[Int]): Column =
    array(src.map(d => element_at(v, d + 1)): _*)

  /** (vec_id, m, sub): the corpus's q4 subvectors, OPQ-permuted by
    * `perm` when given. */
  def corpusSub(s: SparkSession, dir: String,
      perm: Option[Seq[Int]] = None): DataFrame = {
    val v = q4vec(col("embedding"))
    Tables.embeddings(s, dir).filter(col("vec_id") >= 10)
      .select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(perm.fold(v)(opqVec(v, _)), m * lit(PqSub) + 1, lit(PqSub)))))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("sub"))
  }

  /** Sampled codebook (j, m, cent): subvectors of vectors 10..25. */
  def seedCb(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 10 + PqK)
      .select((col("vec_id") - 10).as("j"), col("m"), col("sub").as("cent"))

  /** (vec_id, m, code): per (vector, subspace) argmin over the codebook. */
  def joinEncode(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("j"),
        sq(col("sub"), col("cent")).as("dist"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("j"))).getField("j").as("code"))

  /** B25's training: one Lloyd round, groupBy argmin, floor-divided
    * integer centroids (m, j, cent). */
  def lloydCb(sub: DataFrame, seeds: DataFrame): DataFrame = {
    val a1 = sub.join(broadcast(seeds), Seq("m"))
      .select(col("vec_id"), col("m"), col("j"),
        sq(col("sub"), col("cent")).as("dist"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("j"))).getField("j").as("j"))
    sub.join(a1, Seq("vec_id", "m"))
      .select(col("m"), col("j"), posexplode(col("sub")))
      .groupBy("m", "j", "pos")
      .agg(sum("col").as("cs"), count(lit(1)).as("n"))
      .select(col("m"), col("j"), col("pos"),
        expr("(cs - pmod(cs, n)) div n").as("c2"))
      .groupBy("m", "j")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c2")))),
        e => e.getField("c2")).as("cent"))
  }

  /** B22's training: per-dim energy → rank → snake deal. */
  def opqSrcOrder(s: SparkSession, dir: String): Seq[Int] = {
    val stats = Tables.embeddings(s, dir).filter(col("vec_id") >= 10)
      .select(posexplode(q4vec(col("embedding"))))
      .groupBy(col("pos").as("d"))
      .agg((count(lit(1)) * sum(col("col") * col("col"))
        - sum("col") * sum("col")).as("energy"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (stats.length < VecDim) return 0 until VecDim
    val dimOfRank = stats.sortBy { case (d, e) => (-e, d) }.map(_._1)
    (0 until VecDim).map { p =>
      val m = p / PqSub
      val g = p % PqSub
      val i = if (g % 2 == 0) m else PqM - 1 - m
      dimOfRank(g * PqM + i)
    }
  }

  /** (vec_id, label, d, x): corpus dims of the IVF cells. */
  private def cellMembers(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("label"), posexplode(q4vec(col("embedding"))))
      .select(col("vec_id"), col("label"), col("pos").as("d"), col("col").as("x"))

  private def cellSeedIds(s: SparkSession, dir: String): DataFrame =
    cellMembers(s, dir).select("vec_id", "label").distinct()
      .withColumn("j", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")) - 1)
      .filter(col("j") < PqK)

  /** B23's per-cell permutation (label, d, m, sd). */
  def opqCellPerm(s: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy("label").orderBy(col("energy").desc, col("d"))
    cellMembers(s, dir).groupBy("label", "d")
      .agg((count(lit(1)) * sum(col("x") * col("x"))
        - sum("x") * sum("x")).as("energy"))
      .withColumn("r", row_number().over(wRank) - 1)
      .select(col("label"), col("d"),
        when(expr(s"(r div $PqM) % 2") === 0, col("r") % PqM)
          .otherwise(lit(PqM - 1) - col("r") % PqM).as("m"),
        expr(s"r div $PqM").as("sd"))
  }

  private def opqCellMemberSub(s: SparkSession, dir: String): DataFrame =
    cellMembers(s, dir).join(broadcast(opqCellPerm(s, dir)), Seq("label", "d"))
      .select(col("vec_id"), col("label"), col("m"), col("sd"), col("x"))

  /** B23's cell-local codebooks (label, j, m, sd, cx). */
  def opqCellCb(s: SparkSession, dir: String): DataFrame =
    opqCellMemberSub(s, dir).join(broadcast(cellSeedIds(s, dir)), Seq("vec_id", "label"))
      .select(col("label"), col("j"), col("m"), col("sd"), col("x").as("cx"))

  /** B23's codes (vec_id, label, m, code). */
  def opqCellCodes(s: SparkSession, dir: String): DataFrame =
    opqCellMemberSub(s, dir)
      .join(broadcast(opqCellCb(s, dir)), Seq("label", "m", "sd"))
      .groupBy(col("vec_id"), col("label"), col("m"), col("j"))
      .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("dist"))
      .groupBy("vec_id", "label", "m")
      .agg(min(struct(col("dist"), col("j"))).getField("j").as("code"))

  /** B24's per-cell coarse sums (label, d, cs, n). */
  def resCellSum(s: SparkSession, dir: String): DataFrame =
    cellMembers(s, dir).groupBy("label", "d")
      .agg(sum("x").as("cs"), count(lit(1)).as("n"))

  private def resResid(s: SparkSession, dir: String): DataFrame =
    cellMembers(s, dir).join(broadcast(resCellSum(s, dir)), Seq("label", "d"))
      .select(col("vec_id"), col("label"),
        expr(s"d div $PqSub").as("m"), (col("d") % PqSub).as("sd"),
        (col("x") * col("n") - col("cs")).as("r"))

  /** B24's per-cell residual codebooks (label, j, m, sd, cr). */
  def resCellCb(s: SparkSession, dir: String): DataFrame =
    resResid(s, dir).join(broadcast(cellSeedIds(s, dir)), Seq("vec_id", "label"))
      .select(col("label"), col("j"), col("m"), col("sd"), col("r").as("cr"))

  /** B24's codes (vec_id, label, m, code). */
  def resCellCodes(s: SparkSession, dir: String): DataFrame =
    resResid(s, dir)
      .join(broadcast(resCellCb(s, dir)), Seq("label", "m", "sd"))
      .groupBy(col("vec_id"), col("label"), col("m"), col("j"))
      .agg(sum((col("r") - col("cr")) * (col("r") - col("cr"))).as("dist"))
      .groupBy("vec_id", "label", "m")
      .agg(min(struct(col("dist"), col("j"))).getField("j").as("code"))

  // ---- store creation (G20, G38, G41, r11) ------------------------------

  import graft.operators.VectorStore.{Dim, PqK => StoreK, PqM => StoreM, PqSubDim}

  private val ResScale = 1L << 16

  private def subvecs(v: Column): Column =
    transform(sequence(lit(0), lit(StoreM - 1)),
      m => slice(v, m * lit(PqSubDim) + 1, lit(PqSubDim)))

  private def subRows(df: DataFrame, vec: Column): DataFrame =
    df.select(col("doc_id"), col("chunk_ix"), posexplode(subvecs(vec)))
      .select(col("doc_id"), col("chunk_ix"), col("pos").as("m"), col("col").as("sub"))

  /** The store's window-argmin Lloyd round over (doc_id, chunk_ix, m, sub)
    * rows → (j, m, cent). */
  private def lloydRefine(subs: DataFrame, seeds: DataFrame): DataFrame = {
    val wMin = Window.partitionBy("doc_id", "chunk_ix", "m").orderBy(col("dist"), col("j"))
    val a1 = subs.join(broadcast(seeds), Seq("m"))
      .withColumn("dist", sq(col("sub"), col("cent")))
      .withColumn("rk", row_number().over(wMin))
      .filter(col("rk") === 1)
      .select("doc_id", "chunk_ix", "m", "j")
    subs.join(a1, Seq("doc_id", "chunk_ix", "m"))
      .select(col("m"), col("j"), posexplode(col("sub")))
      .groupBy("m", "j", "pos")
      .agg(sum("col").as("cs"), count(lit(1)).as("n"))
      .select(col("m"), col("j"), col("pos"), expr("(cs - pmod(cs, n)) div n").as("c2"))
      .groupBy("m", "j")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c2")))),
        e => e.getField("c2")).as("cent"))
      .select("j", "m", "cent")
  }

  /** (j, m, cent) seeds: the first PqK chunks' subvectors of `vec`. */
  private def storeSeeds(batch: DataFrame, vec: Column): DataFrame =
    batch.withColumn("v", vec).select("doc_id", "chunk_ix", "v")
      .orderBy("doc_id", "chunk_ix").limit(StoreK)
      .withColumn("j", row_number().over(Window.orderBy("doc_id", "chunk_ix")) - 1)
      .select(col("j"), posexplode(subvecs(col("v"))))
      .select(col("j"), col("pos").as("m"), col("col").as("cent"))

  /** A store's frozen artifacts trained the pre-layer way on its creation
    * batch `batch` (doc_id, chunk_ix, raw): OPQ permutation, PQ codebook
    * (j, m, cent), cells (cell, csum, n), residual codebook (j, m, cent). */
  def trainStore(batch: DataFrame, cells: Int)
      : (Seq[Int], DataFrame, DataFrame, DataFrame) = {
    val stats = batch.select(posexplode(col("raw")))
      .groupBy(col("pos").as("d"))
      .agg((count(lit(1)) * sum(col("col") * col("col"))
        - sum("col") * sum("col")).as("energy"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val dimOfRank = stats.sortBy { case (d, e) => (-e, d) }.map(_._1)
    val perm = (0 until Dim).map { p =>
      val m = p / PqSubDim
      val g = p % PqSubDim
      dimOfRank(g * StoreM + (if (g % 2 == 0) m else StoreM - 1 - m))
    }
    val permuted = array(perm.map(d => element_at(col("raw"), d + 1)): _*)
    val cb = lloydRefine(subRows(batch, permuted), storeSeeds(batch, permuted))
    val seeds = batch.orderBy("doc_id", "chunk_ix").limit(cells)
      .withColumn("cell", row_number().over(Window.orderBy("doc_id", "chunk_ix")) - 1)
      .select(col("cell"), col("raw").as("sq"))
    val cellRows = batch.select(col("doc_id"), col("chunk_ix"), col("raw"))
      .join(broadcast(seeds))
      .withColumn("d2", sq(col("raw"), col("sq")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id", "chunk_ix").orderBy(col("d2"), col("cell"))))
      .filter(col("rk") === 1)
      .select(col("cell"), posexplode(col("raw")))
      .groupBy("cell", "pos").agg(sum("col").as("cs"), count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cs")))),
        e => e.getField("cs")).as("csum"), max("cnt").as("n"))
    val centroids = cellRows.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
    val cmeans = centroids.map { case (c, csum, n) =>
      c -> csum.map(s => s / n * ResScale + s % n * ResScale / n) }.toMap
    val withRes = batch
      .join(JoinEncodeOracle.cellAssign(cellRows, batch), Seq("doc_id", "chunk_ix"))
      .withColumn("rres", zip_with(col("raw"), element_at(typedLit(cmeans), col("cell")),
        (x, c) => x * ResScale - c))
    val rescb = lloydRefine(subRows(withRes, col("rres")), storeSeeds(withRes, col("rres")))
    (perm, cb, cellRows, rescb)
  }
}
