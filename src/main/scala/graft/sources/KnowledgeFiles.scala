package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source + sink for the reference's on-disk knowledge-chunk format
  * (KnowledgeBot.py:382-422 / TextProcessor.py:21-31):
  *
  * {{{
  * Channel Name: general
  * Message Author: Ada
  * Keywords: a, b
  *
  * ---
  *
  * <body text>
  * }}}
  *
  * filename: `<channel>_YYYYMMDD_<ts-with-underscore>_<NN>.txt`.
  *
  * Reading is fully distributed (`wholetext` per-file rows, header parsed
  * with column expressions). Writing emits one file per row from the
  * driver: an export is one ingest batch's blocks, already held there
  * (IngestJob's volume bound), so the target is the driver's filesystem.
  */
object KnowledgeFiles {

  /** Read a directory of export files into (path, header map, body). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(dir + "/*.txt")
      .select(input_file_name().as("path"), col("value"))
      .withColumn("parts", split(col("value"), "---", 2))
    raw.select(
      element_at(split(col("path"), "/"), -1).as("file"),
      map_from_entries(
        transform(
          filter(split(element_at(col("parts"), 1), "\n"), l => l.contains(":")),
          l => struct(
            trim(element_at(split(l, ":", 2), 1)).as("key"),
            trim(element_at(split(l, ":", 2), 2)).as("value")))).as("meta"),
      // try_element_at: a file without a '---' separator yields a null
      // body (and its header parse finds no 'k: v' lines → empty meta)
      // instead of aborting the whole distributed read.
      // trim() strips only spaces; include newlines explicitly.
      trim(try_element_at(col("parts"), lit(2)), " \n\r\t").as("body"))
  }

  /** Render header+body content for a chunk row. Pass metadata as
    * (label, column) pairs in render order; empty values are skipped like
    * the reference's conditional writes. */
  def renderContent(meta: Seq[(String, org.apache.spark.sql.Column)],
      body: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val header = meta.map { case (label, c) =>
      when(c.isNotNull && length(c) > 0, concat(lit(label + ": "), c, lit("\n")))
        .otherwise(lit(""))
    }.reduce(concat(_, _))
    concat(header, lit("\n---\n\n"), body)
  }

  /** Write one file per row from the driver; returns the files written.
    * Expects columns `fname` and `content`. A frame folded on the driver
    * (IngestJob renders its batch's blocks over a local relation) writes
    * with no Spark job; any other frame is collected first. */
  def write(df: DataFrame, outDir: String): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val rows = LocalFrames.rows(df.select("fname", "content"))
    rows.foreach { r =>
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, r.getString(0)),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    rows.length.toLong
  }
}
