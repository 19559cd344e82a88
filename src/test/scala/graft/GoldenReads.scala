package graft {

  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.functions.col

  /** Golden read hashes: every store read route, single and batch, over
    * the same three queries — the verbatim text of a stored chunk, a
    * paraphrase of it (words dropped, one added) and text the store has
    * never seen. A route's rows hash as (query, rank, doc_id, chunk_ix,
    * chunk, raw score bits), so any change in membership, order or a
    * single score bit changes the hash. */
  object GoldenReads {

    /** verbatim chunk (doc 3, chunk 1), paraphrase, unseen text */
    def queries(spark: SparkSession, indexDir: String): Seq[String] = {
      val verbatim = spark.read.parquet(indexDir)
        .filter(col("doc_id") === 3 && col("chunk_ix") === 1)
        .select("chunk").collect().head.getString(0)
      val words = verbatim.split(" ").toSeq
      val paraphrase = (words.zipWithIndex.collect {
        case (w, i) if i % 3 != 1 => w
      } :+ "export").mkString(" ")
      Seq(verbatim, paraphrase, "zebra harbor quantum ledger orbit")
    }

    private def line(qid: Long, r: Row): String =
      Seq(qid, r.getAs[Number]("rank").longValue, r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_ix"), r.getAs[String]("chunk"),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("score")))
        .mkString("|")

    private def digest(lines: Seq[String]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(lines.mkString("\n").getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString

    /** Hash of a single-query route run once per query. */
    def single(qs: Seq[String])(read: String => DataFrame): String =
      digest(qs.zipWithIndex.flatMap { case (q, i) =>
        read(q).collect().toSeq.map(line(i.toLong, _))
      })

    /** Hash of a batch route's rows over all queries at once. */
    def batch(df: DataFrame): String =
      digest(df.collect().toSeq
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Number]("rank").longValue, r))
        .sortBy(t => (t._1, t._2)).map(t => line(t._1, t._3)))

    /** One route: its single-query read and its batch twin. A route
      * whose single read is not a TakeOrderedAndProject read (the
      * hybrid dense leg always ranks per query) sets `topK = false`. */
    final case class Route(name: String, one: String => DataFrame,
        many: Seq[String] => DataFrame, topK: Boolean = true)

    /** Runs every route single and batch over `qs`, then asserts the
      * recorded (single, batch) hashes and each side's plan shape. The
      * reads run four at a time: each is scoped by its own job group. */
    def check(spark: SparkSession, qs: Seq[String], routes: Seq[Route],
        expected: Map[String, (String, String)]): Unit = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val got = try {
        routes.map { r =>
          (r, Future(plans(spark)(single(qs)(r.one))),
            Future(plans(spark)(batch(r.many(qs)))))
        }.map { case (r, one, many) =>
          val ((h1, p1), (hn, pn)) =
            (Await.result(one, 10.minutes), Await.result(many, 10.minutes))
          (r, (h1, hn), p1, pn)
        }
      } finally pool.shutdownNow()
      val drift = got.collect { case (r, h, _, _) if !expected.get(r.name).contains(h) =>
        s"${r.name}: got $h, recorded ${expected.get(r.name)}"
      }
      assert(drift.isEmpty, drift.mkString("read results drifted:\n", "\n", ""))
      got.foreach { case (r, _, p1, pn) =>
        if (r.topK) assertTopKPlan(r.name, p1)
        assertQueryWindowPlan(r.name + "Batch", pn)
      }
    }

    /** `body`'s result and the Spark plans it ran, one per SQL execution. */
    def plans[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
      val (out, trace) = JobCounter(spark)(body)
      (out, trace.plans.values.toSeq)
    }

    /** A single-query read ranks with TakeOrderedAndProject and never
      * plans a window. */
    def assertTopKPlan(name: String, ps: Seq[String]): Unit = {
      assert(ps.exists(_.contains("TakeOrderedAndProject")),
        s"$name: no TakeOrderedAndProject in\n${ps.mkString("\n---\n")}")
      assert(!ps.exists(_.contains("Window")),
        s"$name: a single-query read planned a window:\n${ps.mkString("\n---\n")}")
    }

    /** A batch read ranks in a window partitioned by query_id. */
    def assertQueryWindowPlan(name: String, ps: Seq[String]): Unit =
      assert(ps.exists(_.contains("windowspecdefinition(query_id")),
        s"$name: no window keyed on query_id in\n${ps.mkString("\n---\n")}")
  }
}

package graft.operators {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Test access to the hybrid read's dense leg, which takes an already
    * filtered index frame. */
  object DenseLeg {
    def apply(spark: SparkSession, index: DataFrame, queries: Seq[String],
        k: Int): DataFrame =
      VectorStore.searchInBatch(spark, index, queries, k)
  }
}
