package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the test corpus.
  *
  * Loaders return the raw scan; operators `select` only the columns they
  * need and filter as early as possible so Catalyst pushes projection and
  * predicates into the parquet reader (check `PushedFilters`/`ReadSchema`
  * in the formatted plan). At 100 TB these would be partitioned/bucketed
  * catalog tables; the call sites would not change.
  *
  * Each load declares the schema Spark's own inference would derive,
  * read on the driver from the table's first data file
  * ([[ParquetFooters.inferredSchema]]), so building a loader runs no
  * schema-inference job; a table with no data file keeps the plain read.
  * Nothing is memoized: every call reads the current footer.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    ParquetFooters.inferredSchema(spark, path)
      .fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  /** events.ts has shipped in three parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (read as long under
    * spark.sql.legacy.parquet.nanosAsLong=true), TIMESTAMP(MICROS) with no
    * timezone (Spark's inferTimestampNTZ maps it to TIMESTAMP_NTZ, which
    * `unix_micros` & friends reject at analysis), and plain TIMESTAMP.
    * Normalize all three to session-TZ TIMESTAMP here so every downstream
    * operator sees one type. Session TZ is pinned UTC
    * (GraftSession.scala), so NTZ→TIMESTAMP is a pure re-tag — wall-clock
    * fields and `unix_micros` values are unchanged, and DuckDB (which
    * reads the same file as its TZ-less TIMESTAMP) agrees. */
  private def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast("timestamp"))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  // o_orderdate / l_shipdate ship in the same TZ-less parquet encoding as
  // events.ts — normalize them too, so the NEXT operator that reaches for
  // unix_micros/unix_timestamp on a date column can't reproduce the
  // round-5 NTZ analysis failure (SchemaContractSpec pins this).
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "lineitem"), "l_shipdate")
  def events(s: SparkSession, d: String): DataFrame     = normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The files of table `name` under `dir` as (path, size, mtime)
    * triples, listed on the driver with no Spark job: an unchanged
    * fingerprint means the table was not rewritten. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        files += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      }
    }
    files.sorted.mkString(";")
  }
}
