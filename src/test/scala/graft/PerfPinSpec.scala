package graft

import graft.operators.{Analytics, Dedup}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-6 performance fixes so a refactor that silently
  * re-derives work goes red instead of just slow:
  *
  *  - E40 PageRank materializes the degree-annotated adjacency ONCE
  *    (Analytics.qPagerank); without the checkpoint every unrolled
  *    iteration re-derives orders⋈lineitem→distinct→union→deg-join
  *    from the parquet scan.
  *  - C6 connectedComponents' driver fast path finishes clustering off
  *    ONE collect from the checkpointed pair list — no further Spark
  *    jobs, and the result is a driver-local relation.
  */
class PerfPinSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  test("E40: q_pagerank's plan reads only the materialized adjacency") {
    val plan = Analytics.qPagerank(s, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // all three iterations + the seed must hang off the checkpointed
    // adjacency (an ExistingRDD scan); a parquet scan in the FINAL plan
    // means an iteration re-derives the edge pipeline from the source
    assert(!plan.contains("FileScan") && !plan.contains("BatchScan"),
      s"pagerank plan re-reads parquet instead of the checkpoint:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"pagerank plan lost the checkpointed adjacency scan:\n$plan")
  }

  /** (result, #jobs `body` started) — [[JobCounter]] scopes the count
    * to a fresh job group and waits for the async listener bus. */
  private def countJobs[T](body: => T): (T, Int) = {
    val (out, trace) = JobCounter(s)(body)
    (out, trace.jobs)
  }

  // chain + clique: small enough for the driver gate, multi-round if
  // propagated
  private def pairs: DataFrame =
    ((0L until 30L).map(i => (i + 1, i)) ++ Seq((100L, 101L), (101L, 102L),
      (100L, 102L))).toDF("doc_a", "doc_b")

  test("C6: the driver fast path runs no Spark jobs past the pairs checkpoint") {
    val (df, buildJobs) = countJobs(Dedup.connectedComponents(s, pairs))
    // checkpoint + gate count (AQE runs it as two jobs: shuffle-stage
    // materialization + result) + the single collect — nothing else; the
    // full hook→contract→finish pipeline needs many more (see the
    // differential below), so a regression that re-enters it goes red
    assert(buildJobs <= 4,
      s"driver fast path ran $buildJobs jobs (expected ≤ 4: checkpoint, gate count, collect)")
    // the result is driver-local: consuming it distributes nothing
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"fast-path result is not a local relation:\n$plan")
    val (rows, consumeJobs) = countJobs(df.collect())
    assert(rows.length == 34 && consumeJobs == 0,
      s"collecting the fast-path result launched $consumeJobs jobs")
  }

  test("C6: the job counter itself detects the distributed pipeline") {
    // differential guard: if countJobs under-counted (listener race, group
    // not propagated), this forced-distributed run would ALSO come in ≤ 4
    // and the pin above would be vacuous
    s.conf.set("graft.cc.maxLocalEdges", "0")
    val (df, buildJobs) = try countJobs(Dedup.connectedComponents(s, pairs))
    finally s.conf.unset("graft.cc.maxLocalEdges")
    assert(df.collect().length == 34)
    assert(buildJobs > 4,
      s"distributed pipeline only showed $buildJobs jobs — counter is blind")
  }

  test("an #EDIT IngestJob batch runs at most 9 jobs in at most 6 SQL executions") {
    val data = java.nio.file.Files.createTempDirectory("graft_pp_data").toString
    graft.sources.Tables.customer(s, TestSpark.sf).limit(10).coalesce(1)
      .write.parquet(s"$data/customer.parquet")
    Seq(12L, 30L, 35L).map(d => (d, (0 until 30).map(i => s"w$d-$i").mkString(" "),
        "en", "s1")).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .coalesce(1).write.parquet(s"$data/documents.parquet")
    def events(rows: (Long, java.sql.Timestamp, Long)*): Unit = {
      rows.toDF("event_id", "ts", "user_id").coalesce(1).write.mode("overwrite")
        .parquet(s"$data/events.parquet")
      s.catalog.refreshByPath(s"$data/events.parquet")
    }
    val old = Seq((30L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00"), 3L),
      (12L, java.sql.Timestamp.valueOf("2024-01-15 10:31:00"), 4L))
    events(old: _*)
    val out = java.nio.file.Files.createTempDirectory("graft_pp_out").toString
    assert(IngestJob.run(s, data, out)._1 == 2)
    // the next batch: a new message (text of document 512 % 500 = 12) and
    // an #EDIT reply (35 % 7 == 0, 35 % 10 != 0) to parent 30
    val now = System.currentTimeMillis()
    events(old ++ Seq((35L, new java.sql.Timestamp(now), 5L),
      (512L, new java.sql.Timestamp(now + 1000), 6L)): _*)
    val ((files, chunks, _), trace) = JobCounter(s)(IngestJob.run(s, data, out))
    assert(files == 3 && chunks > 0, s"$files files, $chunks chunks")
    // the executions: two id collects, the blocks collect, the encode,
    // the victims scan and the merged overwrite — the export, the staged
    // copy and the lexical generation run on the driver
    val executions = trace.plans.size
    info(s"${trace.jobs} jobs, $executions SQL executions")
    assert(trace.jobs <= 9,
      s"an incremental batch with an #EDIT ran ${trace.jobs} jobs (budget 9)")
    assert(executions <= 6,
      s"an incremental batch with an #EDIT ran $executions SQL executions " +
        s"(budget 6):\n${trace.plans.toSeq.sortBy(_._1).map(_._2.take(400)).mkString("\n---\n")}")
  }
}
