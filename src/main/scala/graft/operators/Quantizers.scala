package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one quantizer layer under the registry's PQ, OPQ, residual and RP
  * keys ([[Similarity]]) and the store's frozen sidecars
  * ([[VectorStore]]): the md5 ±1 sign matrix and its projection, the OPQ
  * energy ranking and snake deal, the row-local nearest-centroid encode
  * and one exact Lloyd round. Every trained artifact is a driver value
  * (a codebook is at most M·K rows, a permutation one int per dim), so
  * an encode is one row-local projection over literals: no join, window
  * or shuffle, and the plan does not grow with the codebook.
  *
  * All arithmetic is exact int64 (squared distances, sums, floor-divided
  * means) and every argmin breaks ties to the smaller id, so the codes
  * equal the SQL oracles' `row_number() OVER (… ORDER BY dist, j)`. */
private[graft] object Quantizers {

  /** A codebook on the driver: (j, m, cent) = centroid `j` of subspace
    * `m`. */
  type Codebook = Seq[(Int, Int, Array[Long])]

  /** The (rows × dims) ±1 sign matrix seeded by `seed`: sign(j, d) = bit 3
    * of the 60-bit md5 integer of "seed:j:d", the integer an SQL oracle
    * derives as `('0x'||substr(md5(…),1,15))::BIGINT`. Callers hold it in
    * a lazy val, so initialising their object computes nothing. */
  def signs(seed: String, rows: Int, dims: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(rows, dims) { (j, d) =>
      val hex = md.digest(s"$seed:$j:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      ((java.lang.Long.parseLong(hex, 16) >> 3) & 1L) * 2L - 1L
    }
  }

  /** The JL projection of an int64 vector: one graft_dot_l per sign row,
    * against literal signs. */
  def project(v: Column, signs: Array[Array[Long]]): Column =
    array(signs.toSeq.map(row =>
      call_function("graft_dot_l", typedLit(row.toSeq), v)): _*)

  /** Per-dim exact int64 energy n·Σx²−(Σx)² of `v` over `vecs`, per
    * `by` key (an int column; one key when omitted): one narrow aggregate,
    * one row per (key, dim) to the driver. The input of [[snakeDeal]]. */
  def energies(vecs: DataFrame, v: Column, by: Column = lit(0))
      : Map[Int, Seq[(Int, Long)]] =
    vecs.select(by.as("k"), posexplode(v))
      .groupBy(col("k"), col("pos").as("d"))
      .agg((count(lit(1)) * sum(col("col") * col("col"))
        - sum("col") * sum("col")).as("energy"))
      .collect().toSeq
      .groupBy(_.getInt(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(1), r.getLong(2))) }

  /** The OPQ permutation: dims ranked by energy (ties to the smaller
    * dim) and snake-dealt into `m` subspaces of `sub` dims, so every
    * subspace gets one dim from each energy band — rank r = g·m + i lands
    * in subspace i on even rounds g and m−1−i on odd ones, at slot g.
    * Position p = subspace·sub + slot holds source dim `perm(p)`. */
  def snakeDeal(stats: Seq[(Int, Long)], m: Int, sub: Int): Seq[Int] = {
    val dimOfRank = stats.sortBy { case (d, e) => (-e, d) }.map(_._1)
    (0 until m * sub).map { p =>
      val g = p % sub
      val i = if (g % 2 == 0) p / sub else m - 1 - p / sub
      dimOfRank(g * m + i)
    }
  }

  /** `v` gathered along `perm` — literal indices, stays codegen. */
  def permute(v: Column, perm: Seq[Int]): Column =
    array(perm.map(d => element_at(v, d + 1)): _*)

  /** Subspace `i` of `v`: dims [i·sub, (i+1)·sub). */
  def subvec(v: Column, i: Int, sub: Int): Column = slice(v, i * sub + 1, sub)

  /** PQ codes of `v` against `cb`: code(i) = the id of the nearest
    * centroid of subspace i (exact int64 sqdist, ties to the smaller id),
    * one graft_nearest_l loop per subspace over literal centroids. `v` is
    * sliced once per subspace, so pass a column, not a costly
    * expression. */
  def encode(v: Column, cb: Codebook, m: Int, sub: Int): Column =
    array((0 until m).map { i =>
      val cents = cb.filter(_._2 == i).sortBy(_._1)
      element_at(typedLit(cents.map(_._1)), call_function("graft_nearest_l",
        subvec(v, i, sub), typedLit(cents.map(_._3.toSeq))) + 1)
    }: _*)

  /** PQ codes of `v` against the codebook of the row's `key` (per-cell
    * codebooks, one key-indexed literal per subspace — the same row-local
    * loop as [[encode]]). Every key's codebook covers all m subspaces. */
  def encodeKeyed(v: Column, key: Column, cbs: Map[Int, Codebook], m: Int,
      sub: Int): Column =
    array((0 until m).map { i =>
      val cents = cbs.map { case (k, cb) => k -> cb.filter(_._2 == i).sortBy(_._1) }
      element_at(element_at(typedLit(cents.map { case (k, c) => k -> c.map(_._1) }), key),
        call_function("graft_nearest_l", subvec(v, i, sub),
          element_at(typedLit(cents.map { case (k, c) => k -> c.map(_._3.toSeq) }), key))
          + 1)
    }: _*)

  /** The frozen cell of `raw`: argmin ‖x − S/n‖² over the (cell, S, n)
    * summary, restated division-free as (‖S‖² − 2·x·S·n)/n² — exact int64
    * numerator and denominator, one IEEE division per cell, ties to the
    * smaller cell id. One graft_nearest_cell_l loop per row. */
  def nearestCell(raw: Column, centroids: Array[(Int, Array[Long], Long)]): Column = {
    val byId = centroids.sortBy(_._1)
    element_at(typedLit(byId.map(_._1).toSeq),
      call_function("graft_nearest_cell_l", raw,
        typedLit(byId.map(_._2.toSeq).toSeq), typedLit(byId.map(_._3).toSeq))
        + 1)
  }

  /** Seed codebook: vector j's subspaces as centroid j. */
  def seeds(vectors: Seq[(Int, Array[Long])], m: Int, sub: Int): Codebook =
    for ((j, v) <- vectors; i <- 0 until m) yield (j, i, v.slice(i * sub, (i + 1) * sub))

  /** One exact Lloyd round: every row of `vecs` assigns each subspace of
    * `v` to its nearest seed ([[encode]]), then a mergeable (subspace,
    * id, dim) sum and count runs and one row per (j, i, dim) comes to the
    * driver. Returns (j, i, Σ, n) per centroid that won members; seeds
    * that won none vanish. PQ callers floor-divide ([[means]]); the
    * store's cell training keeps (Σ, n). */
  def lloyd(vecs: DataFrame, v: Column, seeds: Codebook, m: Int, sub: Int)
      : Seq[(Int, Int, Array[Long], Long)] =
    vecs.select(v.as("v"))
      .select(posexplode(encode(col("v"), seeds, m, sub)).as(Seq("m", "j")), col("v"))
      .select(col("m"), col("j"), posexplode(slice(col("v"), col("m") * sub + 1, lit(sub))))
      .groupBy("m", "j", "pos")
      .agg(sum("col").as("cs"), count(lit(1)).as("n"))
      .collect().toSeq
      .groupBy(r => (r.getInt(1), r.getInt(0)))
      .map { case ((j, i), rs) =>
        val byPos = rs.sortBy(_.getInt(2))
        (j, i, byPos.map(_.getLong(3)).toArray, byPos.head.getLong(4))
      }.toSeq.sortBy { case (j, i, _, _) => (i, j) }

  /** Lloyd sums → integer centroids floorDiv(Σ, n): integer centroids keep
    * every downstream distance in exact int64 with no per-candidate
    * division, and the < 1 rounding is noise against centroid spreads. */
  def means(sums: Seq[(Int, Int, Array[Long], Long)]): Codebook =
    sums.map { case (j, i, s, n) => (j, i, s.map(Math.floorDiv(_, n))) }

  /** A codebook as a (j, m, cent) relation, for the ADC distance tables
    * and the store's sidecar writes. */
  def frame(spark: SparkSession, cb: Codebook): DataFrame = {
    import spark.implicits._
    cb.map { case (j, i, c) => (j, i, c.toSeq) }.toDF("j", "m", "cent")
  }
}
