package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (tests fork a single JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.start(GraftSession.builder("graft-test", "local[4]", "4"))
  val sf: String = "/root/testdata/sf0.001"
}
