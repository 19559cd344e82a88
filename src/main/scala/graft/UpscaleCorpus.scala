package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** sf1-twin generator (r15, the r12 verdict's item #7): a deterministic
  * 10× upscale of an existing sf directory, so the protocol's missing
  * scale point — the bench runs sf0.1, the skew twins rehearse 10× ROWS
  * under adversarial SHAPE — gets a plain-shape 10× volume rehearsal
  * that catches superlinear residuals both miss.
  *
  * Scaling semantics (what a bigger TPC-H-ish world actually looks
  * like, not a naive row copy):
  *
  *  - **facts scale, dimensions don't**: events/orders/lineitem/
  *    documents/embeddings replicate ×K with fresh ids (id·16 + k —
  *    stride 16 > K keeps replica spaces disjoint); region/nation/
  *    customer/supplier/part copy through, so foreign keys stay valid
  *    and per-key fact density grows uniformly (denser history).
  *  - **key spaces that drive grouping grow**: events' user_id
  *    replicates with its row (10× users at the SAME per-user activity
  *    — session/funnel shapes preserved); lineitem and orders share the
  *    o_orderkey transform so the order⋈lineitem cardinality per key is
  *    preserved.
  *  - **protected probe rows keep their ids**: the bench protocol pins
  *    fixed query sets (doc_id < 20, vec_id < 10). Their k = 0 copies
  *    keep source ids VERBATIM (same questions asked of a 10× corpus);
  *    their replicas move past the id space's top so nothing collides.
  *  - **text replicas are salted AND shuffled, embeddings jittered**: a
  *    naive text copy would turn every document into a 10-member
  *    exact/near-dup family — 100× the candidate-pair mass, a SHAPE
  *    change, not a scale change (the skew twins own that axis). A
  *    shuffle alone is NOT enough: order-invariant fingerprints
  *    (simhash over unigram features, bag-of-words hash embeddings) see
  *    a permuted copy as an EXACT match — the first cut of this twin
  *    measured dedup_clusters at 26.9× from precisely that. Replica
  *    texts therefore get every 3rd token salted with a replica suffix
  *    (Jaccard to the source ≈ 0.5, below every near-dup threshold;
  *    unigram-set fingerprints move) plus a deterministic md5-keyed
  *    token permutation (positional n-grams break too); replica
  *    embeddings get the SkewCorpus ±0.5% md5 jitter so the vector
  *    corpus isn't 10 exact copies of every point.
  *
  * Run: `sbt "runMain graft.UpscaleCorpus /root/testdata/sf0.1
  * /tmp/graft_sf1"` → feeds `SPARK_GRAFT_SF_DIR=/tmp/graft_sf1`
  * restricted Bench runs (bench/sf1_spot_r15.json). */
object UpscaleCorpus {
  private val K = 10
  private val Stride = 16L

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: UpscaleCorpus <srcSfDir> <dstDir>")
    val (src, dst) = (args(0), args(1))
    val spark = GraftSession.start(GraftSession.builder("graft-upscale-corpus",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", "32"))
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    val ks = explode(sequence(lit(0L), lit(K - 1L))).as("k")

    save(load("region"), "region", 1)
    save(load("nation"), "nation", 1)
    save(load("customer"), "customer", 4)
    save(load("supplier"), "supplier", 2)
    save(load("part"), "part", 4)

    save(load("orders").select(col("*"), ks)
      .withColumn("o_orderkey", col("o_orderkey") * Stride + col("k"))
      .drop("k"), "orders", 16)
    save(load("lineitem").select(col("*"), ks)
      .withColumn("l_orderkey", col("l_orderkey") * Stride + col("k"))
      .drop("k"), "lineitem", 32)
    save(load("events").select(col("*"), ks)
      .withColumn("event_id", col("event_id") * Stride + col("k"))
      .withColumn("user_id", col("user_id") * Stride + col("k"))
      .drop("k"), "events", 32)

    // documents: protected ids (< 20) keep k = 0 verbatim; every other
    // replica re-ids past the top and token-shuffles deterministically
    val docs = load("documents")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val newDocId = when(col("doc_id") < 20 && col("k") === 0, col("doc_id"))
      .when(col("doc_id") < 20,
        (col("doc_id") + maxDoc) * Stride + col("k"))
      .otherwise(col("doc_id") * Stride + col("k"))
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val salted = zip_with(
      toks,
      sequence(lit(1), size(toks)),
      (t, i) => when(pmod(i, lit(3)) === 0,
        concat(t, lit("~"), col("k").cast("string"))).otherwise(t))
    val shuffled = array_join(transform(
      array_sort(zip_with(
        salted,
        transform(sequence(lit(1), size(toks)),
          i => md5(concat_ws("_", col("doc_id"), col("k"), i))),
        (t, h) => struct(h.as("h"), t.as("t")))),
      e => e.getField("t")), " ")
    save(docs.select(col("*"), ks)
      .withColumn("text",
        when(col("k") === 0, col("text")).otherwise(shuffled))
      .withColumn("doc_id", newDocId)
      .drop("k"), "documents", 32)

    // embeddings: protected ids (< 10) keep k = 0 verbatim; replicas
    // re-id past the top with the SkewCorpus ±0.5% md5 jitter
    val emb = load("embeddings")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val newVecId = when(col("vec_id") < 10 && col("k") === 0, col("vec_id"))
      .when(col("vec_id") < 10, (col("vec_id") + maxVec) * Stride + col("k"))
      .otherwise(col("vec_id") * Stride + col("k"))
    val jittered = zip_with(
      col("embedding"),
      sequence(lit(0), size(col("embedding")) - 1),
      (v, i) => v + v * (pmod(conv(substring(md5(concat_ws("_",
        col("vec_id"), col("k"), i)), 1, 8), 16, 10).cast("long"), lit(100))
        .cast("double") - 50.0d) * 0.0001d)
    save(emb.select(col("*"), ks)
      .withColumn("embedding",
        when(col("k") === 0, col("embedding")).otherwise(jittered))
      .withColumn("vec_id", newVecId)
      .drop("k"), "embeddings", 8)

    println(s"""{"upscaled":"$dst","src":"$src","factor":$K}""")
    spark.stop()
  }
}
