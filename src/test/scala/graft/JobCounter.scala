package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.concurrent.TrieMap

/** What `body` ran: its Spark jobs and SQL executions (scoped by a
  * fresh job group, so concurrent work stays out), the jobs per SQL
  * execution, and each execution's initial physical plan text. */
final case class JobTrace(jobs: Int, jobsByExecution: Map[Long, Int],
    plans: Map[Long, String]) {
  /** The executions whose plan text matches `pattern`. */
  def executions(pattern: String): Seq[Long] =
    jobsByExecution.keys.filter(e =>
      plans.get(e).exists(p => pattern.r.findFirstIn(p).isDefined)).toSeq
}

object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, JobTrace) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val byExec = TrieMap.empty[Long, Int]
    val plans = TrieMap.empty[Long, String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          Option(j.properties.getProperty("spark.sql.execution.id"))
            .map(_.toLong).foreach(e => byExec.synchronized(
              byExec.update(e, byExec.getOrElse(e, 0) + 1)))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.update(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job counter", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      // the listener bus is async: wait until the count is stable
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(100); waited += 1
      }
      (out, JobTrace(jobs.get(), byExec.toMap, plans.toMap))
    } finally sc.removeSparkListener(listener)
  }
}
