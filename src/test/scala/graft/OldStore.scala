package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.Assertions._

import scala.jdk.CollectionConverters._

/** Stores the format gate must refuse, made by copying a suite's existing
  * fixture (no new ingest) and removing or rewriting its
  * `_graft_store.json` marker, plus the check that a refusal ran no Spark
  * job and left the store's file tree as it was. */
object OldStore {
  val Marker = "_graft_store.json"

  private def fs(spark: SparkSession) = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** A filesystem copy of the store at `src`, hidden files included. */
  def copy(src: String, tag: String): String = {
    val dst = Files.createTempDirectory(s"graft_old_$tag").toString + "/index"
    val s = Paths.get(src); val d = Paths.get(dst)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst
  }

  /** A copy of `src` without its format marker — a store written before
    * the marker existed — and without the `drop` sidecars (paths relative
    * to the store) that the store's own era had not yet written. */
  def unmarked(spark: SparkSession, src: String, tag: String,
      drop: String*): String = {
    val dir = copy(src, tag)
    (Marker +: drop).foreach(p =>
      assert(fs(spark).delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true),
        s"$dir/$p missing"))
    dir
  }

  /** A copy of `src` whose marker names format `version`. */
  def versioned(spark: SparkSession, src: String, tag: String,
      version: Int): String = {
    val dir = copy(src, tag)
    val out = fs(spark).create(new org.apache.hadoop.fs.Path(s"$dir/$Marker"), true)
    try out.write(s"""{"format":$version}""".getBytes("UTF-8")) finally out.close()
    dir
  }

  /** (relative path, size, mtime) of every file under `dir`. */
  def tree(dir: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(dir)
    val w = Files.walk(root)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map { (p: Path) =>
      (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted finally w.close()
  }

  /** Every op refuses `dir` with the format message naming `found`; all
    * of them together run no Spark job and leave `root` (default: the
    * store itself) unchanged. A DataFrame result is collected, so a
    * lazily deferred refusal would count its jobs. */
  def assertRefused(spark: SparkSession, dir: String, found: String,
      root: Option[String] = None)(ops: (String, () => Any)*): Unit = {
    val before = tree(root.getOrElse(dir))
    val (_, trace) = JobCounter(spark) {
      ops.foreach { case (name, op) =>
        val ex = intercept[IllegalArgumentException] {
          op() match { case df: Dataset[_] => df.collect(); case _ => }
        }
        assert(ex.getMessage.contains(s"store $dir has format version $found") &&
          ex.getMessage.contains("re-ingest it with mode=overwrite"),
          s"$name: not the format refusal: ${ex.getMessage}")
      }
    }
    assert(trace.jobs == 0, s"refusals ran ${trace.jobs} Spark jobs")
    assert(tree(root.getOrElse(dir)) == before,
      "a refusal changed the store's files")
  }
}
