package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory, and the one session setup every graft entry
  * point shares.
  *
  * [[builder]] carries what every session needs whatever its master:
  * graft's extensions, UTC session time, `nanosAsLong` (events.ts ships as
  * TIMESTAMP(NANOS), see `Tables.events`), no UI, and the fork-free local
  * filesystem ([[graft.sources.GraftLocalFileSystem]]). The mains, the
  * test session and the benchmark add their own master, shuffle partitions
  * and confs on top. [[build]] is the production session: AQE on (runtime
  * coalescing + skew-join splitting), a modest shuffle partition count for
  * local mode, every knob the one you'd set on a real cluster.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The confs every graft session carries. `fs.file.impl` binds when the
    * JVM first opens a `file://` FileSystem (Hadoop caches it per scheme),
    * so a session must be built before anything else touches local files
    * through Hadoop. */
  private val shared: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.GraftLocalFileSystem].getName)

  /** A builder with graft's extensions and [[shared]] confs at `master`
    * with `partitions` shuffle partitions. */
  def builder(appName: String, master: String,
      partitions: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config(shared)

  /** `b`'s session, logging at WARN. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def build(appName: String = "graft"): SparkSession =
    start(builder(appName, s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024))
}
