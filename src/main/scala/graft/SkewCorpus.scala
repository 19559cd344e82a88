package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an adversarially SKEWED twin of a source SF — same tables, same
  * row counts, hostile key distributions:
  * `runMain graft.SkewCorpus <srcSfDir> <dstDir>`.
  *
  * [[UpscaleCorpus]] rehearses MORE data with the same statistics; this
  * rehearses the statistics a 100 TB corpus actually throws at you. Every
  * skew fraction is a constant share of the table, so deriving skew twins
  * at two SFs and measuring the wall ratio answers the question the
  * uniform bench cannot: does the operator stay sub-linear when the hot
  * entity grows WITH the corpus? The shapes:
  *
  *  - **hot user** — 30% of events collapse onto one user_id: the viral
  *    account. Stresses every per-user window (q_sessionize,
  *    q_window_range, q_dau_mau) and keyed aggregation; the salted twins
  *    (E15/E28) exist for exactly this shape.
  *  - **giant near-dup family** — 30% of documents become perturbed
  *    copies of ONE template (5% of token positions doc-unique): the
  *    boilerplate page. In-family candidate PAIRS grow quadratically in
  *    corpus size — the worst case for every blocked pair-join
  *    (dedup_minhash/prefix/containment/semantic/clusters).
  *  - **Zipf head token** — a further 20% of documents get every 7th
  *    token replaced by one shared head token: the "the"-heavy web. Fills
  *    token-keyed indexes (prefix filter, vocab, collocations) with one
  *    hot key without making the docs near-dups.
  *  - **dense embedding cluster** — 30% of vectors become tiny
  *    perturbations of one centroid: the template-image embedding. One
  *    LSH bucket / IVF cell holds a third of the corpus
  *    (dedup_embcos/semantic, ann_lsh candidate skew).
  *  - **hot part + hot customer** — 20% of lineitem rows point at one
  *    part and 20% of orders at one customer: the bestseller SKU and the
  *    whale account. Stresses co-purchase pair fans (q_market_basket,
  *    q_triangles) and the c⋈o⋈l join chain's shuffle balance.
  *
  * Rows the bench protocol pins as fixed query sets (doc_id < 20,
  * vec_id < 10) keep their source values — skewing the probes would
  * change the question, not just the data shape. Determinism: every
  * choice keys on md5 of ids (the repo-wide portable-hash convention),
  * never on rand(). */
object SkewCorpus {
  /** pmod(md5-derived int, m) — deterministic bucket in [0, m). */
  private def hbucket(c: Column, m: Int): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(m))

  val HotUser = 7777777L
  val HotPart = 4242L
  val HotCust = 1L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SkewCorpus <srcSfDir> <dstDir> [aniso|labelskew]")
    val src = args(0)
    val dst = args(1)
    val spark = GraftSession.start(GraftSession.builder("graft-skew-corpus",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", "32"))
    // single-axis twin modes (r10): anisotropic per-dim energy, hot cell
    args.lift(2) match {
      case Some("aniso") =>
        writeAniso(spark, src, dst)
        println(s"""{"aniso_corpus":"$dst","src":"$src"}""")
        spark.stop(); return
      case Some("labelskew") =>
        writeLabelSkew(spark, src, dst)
        println(s"""{"labelskew_corpus":"$dst","src":"$src"}""")
        spark.stop(); return
      case Some(other) => sys.error(s"unknown twin mode '$other'")
      case None => ()
    }
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    save(load("region"), "region", 1)
    save(load("nation"), "nation", 1)
    save(load("customer"), "customer", 4)
    save(load("supplier"), "supplier", 2)
    save(load("part"), "part", 4)

    // whale customer: 20% of orders move to one custkey
    save(load("orders").withColumn("o_custkey",
      when(hbucket(col("o_orderkey"), 5) === 0, lit(HotCust))
        .otherwise(col("o_custkey"))), "orders", 8)

    // bestseller SKU: 20% of lineitem rows move to one partkey
    save(load("lineitem").withColumn("l_partkey",
      when(hbucket(col("l_orderkey") * 8 + col("l_linenumber"), 5) === 0,
        lit(HotPart)).otherwise(col("l_partkey"))), "lineitem", 16)

    // viral account: 30% of events move to one user_id
    save(load("events").withColumn("user_id",
      when(hbucket(col("event_id"), 10) < 3, lit(HotUser))
        .otherwise(col("user_id"))), "events", 8)

    // documents: one giant near-dup family (30%) + a Zipf head token (20%)
    writeDocSkew(spark, src, dst)

    // embeddings: 30% of vectors collapse into one dense cluster around
    // the centroid of vec_id 10 (first unprotected id), ±0.5% noise
    val emb = load("embeddings")
    val centroid = emb.filter(col("vec_id") === 10)
      .select(col("embedding").as("c_emb"))
    val skewedEmb = emb.crossJoin(broadcast(centroid))
      .withColumn("embedding",
        when(col("vec_id") >= 10 && hbucket(col("vec_id"), 10) < 3,
          zip_with(
            col("c_emb"),
            sequence(lit(0), size(col("c_emb")) - 1),
            (v, i) => v + (pmod(conv(substring(md5(concat_ws("_",
              col("vec_id"), i)), 1, 8), 16, 10).cast("long"), lit(100))
              .cast("double") - 50.0d) * 0.0001d))
        .otherwise(col("embedding")))
      .drop("c_emb")
    save(skewedEmb, "embeddings", 4)

    println(s"""{"skew_corpus":"$dst","src":"$src"}""")
    spark.stop()
  }

  /** The documents twin alone (r11, extracted from [[main]] for the
    * store-ingest skew rehearsal): one giant near-dup family (30% of
    * docs become ~5%-perturbed copies of one template, pairwise Jaccard
    * ≈ 0.9) plus a Zipf head token (20% of docs get every 7th token
    * replaced by one shared token). The family's chunks embed into one
    * tight region, so a store built on this corpus assigns ~a third of
    * all chunks to ONE learned cell and floods one LSH bucket — the
    * hot-cell/hot-bucket ingest shape StoreSkewProfile measures. */
  def writeDocSkew(spark: SparkSession, src: String, dst: String): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // the template: the text of the lowest-id protected doc with a
    // non-trivial body — one row, broadcast onto the family members
    val template = docs.filter(col("doc_id") < 20 && length(col("text")) > 200)
      .orderBy("doc_id").limit(1)
      .select(col("text").as("tpl_text"))
    val bucket10 = hbucket(col("doc_id"), 10)
    val skewedDocs = docs.crossJoin(broadcast(template))
      .withColumn("text",
        when(col("doc_id") >= 20 && bucket10 < 3 && col("text").isNotNull,
          // family member: template with ~5% of token positions replaced
          // by doc-unique tokens (pairwise Jaccard stays ≈ 0.9)
          array_join(
            zip_with(
              split(col("tpl_text"), " "),
              sequence(lit(0), size(split(col("tpl_text"), " ")) - 1),
              (t, pos) => when(
                pmod(conv(substring(md5(concat_ws("_", col("doc_id"), pos)),
                  1, 8), 16, 10).cast("long"), lit(20)) === 0,
                concat(lit("u"), col("doc_id"), lit("p"), pos)).otherwise(t)),
            " "))
        .when(col("doc_id") >= 20 && bucket10 >= 3 && bucket10 < 5 &&
            col("text").isNotNull,
          // Zipf-head doc: every 7th token becomes the shared head token
          array_join(
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (t, pos) => when(pmod(pos, lit(7)) === 0, lit("zipfhead"))
                .otherwise(t)),
            " "))
        .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("text").isNull, col("n_chars")).otherwise(length(col("text"))))
      .drop("tpl_text")
    skewedDocs.repartition(8).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")
  }

  /** Hot-CELL twin (r10): every table copied through, but 30% of the
    * corpus embeddings collapse onto ONE `label` — the IVF cell map's
    * hot-cell shape (a template-image cluster that one coarse cell
    * swallows). The dense-cluster skew in [[main]] collapses VALUES
    * (one LSH bucket fills); this collapses the CELL ASSIGNMENT itself,
    * which is what the label-keyed IVF-PQ family (B8/B23/B24) actually
    * partitions by: a probed hot cell's candidate fan is 30% of the
    * corpus, and the per-cell codebook/permutation training joins see
    * one label carrying a third of all rows. Protected probe rows
    * (vec_id < 10) keep their labels — skewing the queries would change
    * the question. */
  def writeLabelSkew(spark: SparkSession, src: String, dst: String): Unit = {
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents"))
      load(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    load("embeddings")
      .withColumn("label",
        when(col("vec_id") >= 10 && hbucket(col("vec_id"), 10) < 3, lit(3))
          .otherwise(col("label")))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** Anisotropic embedding twin (r10): every table copied through, but
    * the embedding SPACE gets the energy profile real text/image
    * embeddings have — per-dim variance decaying exponentially with the
    * dim index (`decay`^d), i.e. energy front-loaded into the leading
    * dims the way an MRL-trained or PCA-rotated model lands it. The
    * synthetic embeddings are isotropic by construction (measured
    * subspace energies 0.121–0.130), which makes B22's OPQ permutation a
    * no-op and flattens B20's MRL budget curve — this twin is where
    * those claims become testable: under identity subspace order, one PQ
    * subspace hoards the energy and ADC distortion concentrates there;
    * the energy-balancing permutation spreads it, and an MRL prefix
    * actually carries most of the signal. ALL vectors scale — queries
    * too: anisotropy is a property of the space, not of individual rows,
    * so the protected-probe convention does not apply (the twin asks a
    * different, sharper question of the same serving code). */
  def writeAniso(spark: SparkSession, src: String, dst: String,
      decay: Double = 0.85): Unit = {
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents"))
      load(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    load("embeddings")
      .withColumn("embedding",
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, d) => v * pow(lit(decay), d.cast("double"))))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }
}
