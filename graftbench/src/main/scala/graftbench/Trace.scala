package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one traced phase of a benchmark call. */
final case class Counters(
    jobs: Int = 0, tasks: Long = 0L, jobMs: Double = 0.0,
    planMs: Double = 0.0, execMs: Double = 0.0,
    shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
    inputRecords: Long = 0L,
    jobsByModule: Map[String, Int] = Map.empty,
    jobMsByModule: Map[String, Double] = Map.empty) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, tasks + o.tasks, jobMs + o.jobMs, planMs + o.planMs,
    execMs + o.execMs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, inputRecords + o.inputRecords,
    Tracer.sum(jobsByModule, o.jobsByModule),
    Tracer.sum(jobMsByModule, o.jobMsByModule))
}

/** Benchmark-side tracing: a SparkListener (jobs, tasks, shuffle, spill,
  * input records) and a QueryExecutionListener (optimization + planning
  * and action time). Each job is attributed to the graft module whose
  * source file is its call site (`<action> at VectorStore.scala:123`).
  *
  * Events reach listeners asynchronously, so [[phase]] drains the bus
  * before and after the timed block and keeps exactly the events that
  * arrived in between; calls run one at a time, so nothing else runs. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var acc = Counters()
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, String)]
  /** Job count per "module <- call site", over the whole run. */
  val sites = scala.collection.mutable.Map.empty[String, Int]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def drain(): Unit =
    org.apache.spark.graftbenchaccess.Bus.drain(spark.sparkContext)

  /** Runs `f`, returning its result, wall milliseconds and counters. */
  def phase[T](f: => T): (T, Double, Counters) = {
    drain()
    synchronized { acc = Counters() }
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    drain()
    val c = synchronized { val c = acc; acc = Counters(); c }
    (r, ms, c)
  }

  private def add(c: Counters): Unit = synchronized { acc = acc + c }

  /** SQL execution id -> the call site of the action that started it. */
  private val execSites = scala.collection.mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        // AQE and broadcast jobs of a nested execution belong to its root
        val root = s.rootExecutionId.filter(_ != s.executionId).flatMap(execSites.get)
        execSites(s.executionId) = root.getOrElse(s.description)
      }
    case _ =>
  }

  /** A job's call site: its SQL execution's, since query-stage jobs start
    * on Spark's own threads and carry a JDK frame as their own site. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong)).filter(Tracer.module(_) != "other").getOrElse(own)
    // a call the benchmark materializes itself (a read's collect, a
    // registry key's noop write) counts under the module that built it
    val m = Tracer.module(site) match {
      case "driver" => Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.CallModule)))
        .getOrElse("driver")
      case m => m
    }
    jobStarts(e.jobId) = (e.time, m)
    sites(s"$m <- $site") = sites.getOrElse(s"$m <- $site", 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, m) = synchronized { jobStarts.remove(e.jobId) }
      .getOrElse((e.time, "other"))
    val ms = (e.time - t0).toDouble
    add(Counters(jobs = 1, jobMs = ms, jobsByModule = Map(m -> 1),
      jobMsByModule = Map(m -> ms)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) add(Counters(tasks = 1))
    else add(Counters(tasks = 1,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      inputRecords = m.inputMetrics.recordsRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = add(Counters(planMs = Tracer.planMs(qe),
    execMs = durationNs / 1e6))

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add(Counters(planMs = Tracer.planMs(qe)))
}

object Tracer {
  private val Site = """ at ([A-Za-z0-9_]+)\.(scala|java):""".r
  /** Local property naming the graft module of the call being timed. */
  val CallModule = "graftbench.callModule"

  /** Graft module for a call site: its source file's name, "driver" for
    * the benchmark's own files, "other" for Spark/JDK frames. */
  def module(site: String): String =
    Site.findFirstMatchIn(site).map(_.group(1)) match {
      case Some(f) if Modules.contains(f) => f
      case Some(f) if DriverFiles.contains(f) => "driver"
      case _ => "other"
    }

  val Modules: Seq[String] = Seq("VectorStore", "VectorStoreLex", "ZoneMaps",
    "KnowledgeFiles", "Tables", "IngestJob", "CorpusJob", "Dedup",
    "TextAnalysis", "Similarity", "Analytics", "AnalyticsExt", "Sketches",
    "Multimodal", "Knowledge")
  private val DriverFiles = Set("Main", "Workloads")

  private def planMs(qe: QueryExecution): Double = {
    val p = qe.tracker.phases
    Seq("optimization", "planning").flatMap(p.get).map(_.durationMs).sum.toDouble
  }

  def sum[N](a: Map[String, N], b: Map[String, N])(implicit n: Numeric[N]): Map[String, N] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> n.plus(a.getOrElse(k, n.zero), b.getOrElse(k, n.zero))).toMap
}
