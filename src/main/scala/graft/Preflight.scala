package graft

import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** Pre-run environment checks — the engine analog of the reference's
  * preflight suite (KnowledgeBot.py:632-640 + tests/test_slack_setup.py):
  * validate config, data availability, and extension registration before
  * a batch run, failing fast with actionable messages instead of
  * mid-job stack traces.
  *
  * Usage: runMain graft.Preflight <dataDir>   (exit 0 = all green)
  */
object Preflight {

  final case class Check(name: String, ok: Boolean, detail: String)

  def run(spark: SparkSession, dataDir: String,
      env: Map[String, String] = sys.env): Seq[Check] = {
    def check(name: String)(body: => String): Check = Try(body) match {
      case Success(d) => Check(name, ok = true, d)
      case Failure(e) => Check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    Seq(
      check("config resolves and validates") {
        val c = GraftConfig.load(env)
        s"chunk=${c.chunkSize}/${c.chunkOverlap}, lookback=${c.threadMaxAgeDays}d"
      },
      check("data dir readable") {
        require(new java.io.File(dataDir).isDirectory, s"$dataDir is not a directory")
        dataDir
      },
      check("all tables present with rows") {
        val counts = tables.map(t =>
          t -> spark.read.parquet(s"$dataDir/$t.parquet").count())
        val empty = counts.filter(_._2 == 0L)
        require(empty.isEmpty, s"empty tables: ${empty.map(_._1).mkString(",")}")
        counts.map { case (t, n) => s"$t=$n" }.mkString(" ")
      },
      check("native functions registered (GraftExtensions)") {
        val v = spark.sql("SELECT graft_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))")
          .head().getDouble(0)
        require(v == 11.0, s"graft_dot returned $v")
        // one smoke call per injected kernel — a missing registration
        // should fail HERE, not mid-pipeline
        val smokes = Seq(
          "graft_intersect_count(array(1L,2L), array(2L,3L))" -> "1",
          "graft_dot_l(array(2L,3L), array(4L,5L))" -> "23",
          "graft_sqdist_l(array(1L), array(4L))" -> "9",
          "graft_nearest_l(array(1L), array(array(4L), array(2L)))" -> "1",
          "graft_nearest_cell_l(array(1L), array(array(4L)), array(1L))" -> "0",
          "graft_simhash32('a b')" -> null,
          "size(graft_shingle_hashes('a b c'))" -> "2",
          "size(graft_minhash_sig(array(1L,2L), 4))" -> "4",
          "size(graft_hash_embed('a b', 8))" -> "8",
          "size(graft_lsh_buckets(array(1L,2L), 8, 8))" -> "8",
          // 6 tokens, k=3, w=4 -> exactly one window minimum
          "size(graft_winnow('a b c d e f', 3, 4))" -> "1",
          "size(graft_topk(struct(1L, 2L), 3))" -> "1",
          "graft_hll_est(CAST(12345 AS BIGINT)) > 0.0" -> "true")
        smokes.foreach { case (exprSql, expect) =>
          val got = spark.sql(s"SELECT $exprSql").head().get(0)
          if (expect != null)
            require(got.toString == expect, s"$exprSql returned $got")
        }
        s"${smokes.size + 1} kernels callable"
      },
      check("timezone is UTC (oracle comparability)") {
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC", s"session timezone is $tz")
        tz
      })
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build("graft-preflight")
    val results = run(spark, dataDir)
    results.foreach(c =>
      println(s"${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
