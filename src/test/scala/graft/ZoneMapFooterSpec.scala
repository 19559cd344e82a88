package graft

import graft.sources.ZoneMaps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ZoneMaps.appendSidecar serves BIGINT/INT zones from parquet footers
  * (row counts + row-group statistics, the sidecar written on the
  * driver: no Spark job) and keeps the scan for other types. Either way the maintained
  * sidecar must equal a full [[ZoneMaps.writeSidecar]] rebuild — the
  * `input_file_name()` spelling of each file (file:///…), the null zone
  * of an all-null file, and the scanned zones of a non-integer column. */
class ZoneMapFooterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def sidecar(p: String): Seq[String] = {
    spark.catalog.refreshByPath(s"$p/_graft_zonemap")
    spark.read.parquet(s"$p/_graft_zonemap").collect().map(_.toString)
      .sorted.toSeq
  }

  /** Two appended batches (the second has an all-null file), each
    * followed by appendSidecar; returns the jobs the last upkeep ran and
    * asserts the sidecar equals a rebuild. */
  private def maintained(name: String, byCol: String): Int = {
    val p = java.nio.file.Files.createTempDirectory("graft_zmf")
      .toString + s"/$name"
    val rows = (0 until 40).map(i => (i.toLong * 7 - 100, i, i * 0.5, i % 3))
      .toDF("l", "i", "d", "part")
    rows.filter(col("l") < 50).repartition(2)
      .write.partitionBy("part").parquet(p)
    assert(ZoneMaps.appendSidecar(spark, p, byCol)._1 > 0)
    rows.filter(col("l") >= 50).coalesce(1).write.mode("append")
      .partitionBy("part").parquet(p)
    // an all-null file: the zone must be null, as min/max give
    rows.filter(col("part") === 0).limit(3)
      .withColumn(byCol, lit(null).cast(rows.schema(byCol).dataType))
      .coalesce(1).write.mode("append").partitionBy("part").parquet(p)
    val ((fresh, dropped), trace) = JobCounter(spark)(
      ZoneMaps.appendSidecar(spark, p, byCol))
    assert(fresh > 0 && dropped == 0)
    val inc = sidecar(p)
    assert(inc.forall(_.startsWith("[file:///")), inc.head)
    assert(inc.exists(_.contains(",null,null,")),
      s"$byCol: no null zone for the all-null file: $inc")
    ZoneMaps.writeSidecar(spark, p, byCol)
    assert(inc == sidecar(p), s"$byCol: maintained sidecar != rebuild")
    trace.jobs
  }

  test("BIGINT and INT zones come from footers: no job, equal to a rebuild") {
    assert(maintained("long", "l") == 0)
    assert(maintained("int", "i") == 0)
  }

  test("a non-integer column keeps the scan and still equals a rebuild") {
    assert(maintained("double", "d") > 1)
  }
}
