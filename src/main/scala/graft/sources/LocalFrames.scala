package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import scala.jdk.CollectionConverters._

/** Frames whose rows are held on the driver. Spark's optimizer folds a
  * projection or a filter over a `LocalRelation` into a new
  * `LocalRelation` (`ConvertToLocalRelation`, through interpreted
  * `eval`), so the rows of such a frame exist once it is optimized:
  * [[rows]] takes them from the optimized plan, with no SQL execution and
  * no job, where a `collect()` would open an execution for them. Any
  * other frame is collected in one execution. Callers hold batch-sized
  * data only. */
object LocalFrames {

  /** The rows of `df`, in order. */
  def rows(df: DataFrame): Seq[Row] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      l.data.map(r => toRow(r).asInstanceOf[Row])
    case _ => df.collect().toSeq
  }

  /** `df`'s rows as a driver-local frame of its schema (a
    * `LocalRelation`), so later projections over it fold on the driver. */
  def of(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(rows(df).asJava, df.schema)
}
