package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark driver: runs one workload against graft's public entry points
  * and writes every call's raw record (wall time, check outcome, and in a
  * traced run the per-phase Spark counters) as one JSON file. run.py makes
  * the inputs, launches this, and aggregates the records into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE [--reps R] [--fault F]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("data"), opt("work"), opt.getOrElse("reps", "2").toInt,
      opt.getOrElse("fault", "none"))
    val spark = GraftSession.build("graftbench")
    val rec = new Recorder(spark, a)
    try a.workload match {
      case "kb_ingest" => Workloads.kbIngest(spark, a, rec)
      case "registry_sweep" => Workloads.registrySweep(spark, a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      Files.writeString(Paths.get(opt("out")), rec.json)
      spark.stop()
    }
  }
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, reps: Int, fault: String)

/** One benchmark call's outcome. `checks` failing or the call throwing makes
  * it a failed op: run.py counts it and leaves it out of every timing. */
final case class Op(kind: String, name: String, ms: Double, cpuMs: Double,
    err: Option[String], info: Map[String, Any], build: Option[(Double, Counters)],
    run: Option[(Double, Counters)])

final class Recorder(spark: SparkSession, a: Args) {
  val ops = ArrayBuffer.empty[Op]
  val setup = ArrayBuffer.empty[(Double, Boolean)] // (seconds, traced)
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val tracer = if (a.trace) Some(new Tracer(spark)) else None

  private def phase[T](traced: Boolean)(f: => T): (T, Double, Option[Counters]) =
    tracer.filter(_ => traced) match {
      case Some(t) => val (r, ms, c) = t.phase(f); (r, ms, Some(c))
      case None =>
        val t0 = System.nanoTime(); val r = f
        (r, (System.nanoTime() - t0) / 1e6, None)
    }

  /** Times `build` (constructing the result, including any eager jobs)
    * and `run` (materializing it) as one op of graft module `module`, then
    * `check`s the result;
    * `check` returns the op's info or throws on a wrong output. A throw
    * anywhere makes a failed op with a stderr line naming the call. */
  def op[B, T](kind: String, name: String, module: String)(build: => B)(run: B => T)(
      check: T => Map[String, Any]): Option[T] = {
    // jobs the benchmark's own materialization starts count under `module`
    spark.sparkContext.setLocalProperty(Tracer.CallModule, module)
    try {
      val (cpu0, gc0) = (Recorder.cpuNanos(), Recorder.gcMillis())
      val (b, bms, bc) = phase(true)(build)
      val (r, rms, rc) = phase(true)(run(b))
      val cpuMs = (Recorder.cpuNanos() - cpu0) / 1e6
      val gcMs = (Recorder.gcMillis() - gc0).toDouble
      val info = try check(r) catch { case e: Throwable =>
        fail(kind, name, bms + rms, e, bc.map(bms -> _), rc.map(rms -> _))
        return None
      }
      ops += Op(kind, name, bms + rms, cpuMs, None, info + ("gc_ms" -> gcMs),
        bc.map(bms -> _), rc.map(rms -> _))
      Some(r)
    } catch { case e: Throwable =>
      fail(kind, name, Double.NaN, e, None, None); None
    } finally spark.sparkContext.setLocalProperty(Tracer.CallModule, null)
  }

  private def fail(kind: String, name: String, ms: Double, e: Throwable,
      b: Option[(Double, Counters)], r: Option[(Double, Counters)]): Unit = {
    val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ")
    System.err.println(s"[graftbench] FAILED workload=${a.workload} call=$kind/$name: $msg")
    ops += Op(kind, name, ms, Double.NaN, Some(msg), Map.empty, b, r)
  }

  /** One set-up repetition. In a traced run the second repetition is
    * traced, so traced minus untraced wall of the same work is the
    * tracing overhead. */
  def setupRep[T](rep: Int)(f: => T): T = {
    val traced = a.trace && rep == 1
    val (r, ms, _) = phase(traced)(f)
    setup += ((ms / 1000.0, traced))
    r
  }

  def json: String = {
    def counters(p: Option[(Double, Counters)]): Any = p.map { case (ms, c) =>
      Map("ms" -> ms, "jobs" -> c.jobs, "tasks" -> c.tasks, "job_ms" -> c.jobMs,
        "plan_ms" -> c.planMs, "exec_ms" -> c.execMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "input_records" -> c.inputRecords,
        "jobs_by_module" -> c.jobsByModule, "job_ms_by_module" -> c.jobMsByModule)
    }.orNull
    Json.render(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> spark.sparkContext.defaultParallelism,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "setup" -> setup.map { case (s, t) => Map("s" -> s, "traced" -> t) },
      "extra" -> extra.toMap,
      "job_sites" -> tracer.map(_.sites.toMap).getOrElse(Map.empty),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "ms" -> o.ms,
        "cpu_ms" -> o.cpuMs,
        "err" -> o.err.orNull, "info" -> o.info,
        "build" -> counters(o.build), "run" -> counters(o.run)))))
  }
}

object Recorder {
  /** CPU time of every thread of this JVM: Spark's task and driver threads,
    * and also the JIT compiler and the garbage collector. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Fs {
  def copy(from: String, to: String): Unit = {
    val t = Paths.get(to)
    Option(t.getParent).foreach(Files.createDirectories(_))
    Files.copy(Paths.get(from), t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }
  }
  def bytes(dir: String): Long = walk(dir).map(Files.size).sum
  /** Parquet data files of a dataset (sidecars live under `_` dirs). */
  def dataFiles(dir: String): Int = walk(dir).count { p =>
    val rel = Paths.get(dir).relativize(p).toString
    rel.endsWith(".parquet") && !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
  }
  def rm(dir: String): Unit = deleteTree(Paths.get(dir))
  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.toList.foreach(deleteTree) }
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
