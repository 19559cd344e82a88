package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // min-of-N protocol: single-shot sub-second timings on a shared JVM
    // carry 2-8x JIT/GC noise (measured round-over-round on identical
    // code), so each query is timed REPS times and the minimum reported —
    // the stable statistic for regression detection.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.start(
      GraftSession.builder("graft-bench", s"local[$cpus]", cpus))
    // SPARK_GRAFT_CONF="k=v,k=v" — session confs for mitigation-knob
    // rehearsals (e.g. graft.dedup.maxBucketFan for the skew bench).
    // Values may not contain ',' (the token separator); a token without
    // '=' fails fast, naming the token — not with a bare MatchError.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF token '$kv' is not of the form key=value " +
              "(values containing ',' are not expressible)")
        }
      })
    // warmup at the smallest SF: JIT + codegen cache + shuffle services,
    // so timed runs measure the plans, not JVM cold start
    // Materialize EVERY column through the no-op DSv2 sink. count() let
    // Catalyst prune unreferenced projections, so narrow operators whose
    // cost lives in the projected columns (quality gates, scorers)
    // benched at scan-only cost — text_filter measured 0.13 s under
    // count() vs 15 s fully evaluated at sf0.1. Round-5 protocol change;
    // numbers are NOT comparable to the count()-action rounds ≤ 4.
    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.foreach { case (_, fn) =>
        try { materialize(fn(spark, warmDir)) } catch { case _: Throwable => () }
      }
    def timeOnce(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      // operators persist intermediates internally; every invocation
      // builds (and re-persists) a fresh plan, so stale cache entries are
      // dead weight that only accumulates GC pressure — drop them, then
      // collect so the previous query's garbage isn't charged to this one
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      materialize(fn(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    // diagnostics (forced-path rehearsals, the end-to-end corpus build)
    // are cost profiles, not regression-tracked operators — one shot each
    // keeps the bench budget on the operator suite. A failed key is NaN
    // (null in the JSON), not the time until it failed
    def time(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String, once: Boolean = false): Double =
      try (1 to (if (once) 1 else reps)).map(_ => timeOnce(fn, dir)).min
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed on $dir: $e")
        Double.NaN
      }
    // dedup_clusters with the driver union-find finish disabled: rehearses
    // the distributed pointer-jumping propagation a 100 TB contracted
    // graph would take (normal entry picks the path data-dependently).
    val ccDistributed: (SparkSession, String) => DataFrame = (ss, d) => {
      ss.conf.set("graft.cc.maxLocalEdges", "0")
      try operators.Dedup.dedupClusters(ss, d)
      finally ss.conf.unset("graft.cc.maxLocalEdges")
    }
    // end-to-end corpus build (G19) as a diagnostic line: the composed
    // pipeline cost, not an operator — excluded from the headline total
    val corpusJob: (SparkSession, String) => DataFrame = (ss, d) =>
      CorpusJob.run(ss, d,
        java.nio.file.Files.createTempDirectory("graft_bench_cj").toString)
    // SPARK_GRAFT_ONLY=q1,q2 restricts to named queries (local iteration)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = (SparkEntry.queries +
      ("dedup_clusters_distributed" -> ccDistributed) +
      ("corpus_job" -> corpusJob))
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val diagnostics = Set("dedup_clusters_distributed", "corpus_job")
    val results = selected.map { case (name, fn) =>
      name -> time(name, fn, sfDir, once = diagnostics(name)) }
    // scale slope: re-time every query at a smaller SF and report the
    // big/small wall-clock ratio next to the data-size ratio, so any
    // pair-join whose candidate set grows super-linearly is visible.
    // SPARK_GRAFT_SCALE_DIR overrides; empty disables.
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/root/testdata/sf0.01")
    val scale: Option[(String, Map[String, Double])] =
      if (scaleDir.nonEmpty && new java.io.File(scaleDir).isDirectory
          && scaleDir != sfDir)
        Some(scaleDir -> selected.map { case (name, fn) =>
          name -> time(name, fn, scaleDir, once = diagnostics(name)) }.toMap)
      else None
    def jnum(v: Double): String = if (v.isNaN || v.isInfinite) "null"
      else f"$v%.3f"
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    // diagnostic lines are not part of the operator suite — keep the
    // headline total comparable across rounds
    val total = results.collect {
      case (k, v) if !diagnostics(k) && !v.isNaN => v }.sum
    val scaleJson = scale.map { case (dir, small) =>
      val ratios = results.collect { case (k, big) if small.contains(k) =>
        k -> (if (small(k) > 0) big / small(k) else Double.NaN) }
      s""""scale":{"small_sf":"$dir","ratio_big_over_small":${jmap(ratios)}},"""
    }.getOrElse("")
    // Field order is deliberate: the driver archives only the LAST 2000
    // chars of this line (round-4 lesson — the tail preserved the ratio
    // map and cut the absolute seconds). So the tail-most bytes carry the
    // most valuable data: the per-query seconds sorted ascending (slowest
    // operators land at the very end and always survive truncation),
    // followed by the headline total as the final key. The verbose
    // per-query small-SF seconds are dropped; the ratio map carries the
    // scale signal in a tenth of the bytes.
    val queriesAsc = results.toSeq.sortBy(_._2)
    val protocol = s"min-of-$reps, noop-sink full materialization (NOT comparable to rounds <= 4 count()-action numbers), cold cache + gc between runs, sf0.001 warmup"
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","protocol":"$protocol",$scaleJson"queries":${jmap(queriesAsc)},"value":$total}""")
    // The stdout line above gets tail-truncated to 2000 chars by the
    // archiver, losing the fastest two-thirds of the per-query map; also
    // write the COMPLETE artifact (all big-SF seconds, all small-SF
    // seconds, all ratios) to a repo file so round-over-round comparison
    // covers every query. SPARK_GRAFT_BENCH_OUT overrides; empty disables.
    // A SPARK_GRAFT_ONLY subset run must NOT clobber the full artifact
    // with a partial map — such runs skip the write unless an explicit
    // out path asks for it.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "bench/full_latest.json" else "")
    if (outPath.nonEmpty) {
      val smallJson = scale.map { case (dir, small) =>
        s""""queries_small_sf":${jmap(small.toSeq.sortBy(_._1))},"""
      }.getOrElse("")
      val full = s"""{"metric":"total","unit":"sec","sf":"$sfDir","protocol":"$protocol",$scaleJson$smallJson"queries":${jmap(results.toSeq.sortBy(_._1))},"value":$total}"""
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
