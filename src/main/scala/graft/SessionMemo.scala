package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped DataFrame memo for checkpointed artifacts (C6 cluster
  * assignment, B12 k-means cells, the k-NN graph edges, B13 rung
  * results). Keyed by (session, table dir);
  * the first use per session registers a listener that drops all of that
  * session's entries when its SparkContext ends, so a stopped session —
  * and the localCheckpoint blocks its entries pin — is never kept alive
  * by the memo.
  *
  * The memo cannot observe filesystem rewrites: rebuilding a corpus
  * under the SAME dir within one session requires an explicit
  * [[clear]] (exposed per-operator as `invalidateClusterArtifacts`,
  * `invalidateKmeansArtifacts`, `invalidateGraphArtifacts`,
  * `invalidateRungResults`), otherwise the memo serves the stale
  * artifact.
  */
final class SessionMemo {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      java.util.concurrent.CompletableFuture[DataFrame]]()
  private val hooked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Thread-safety contract (r15, for the §2.6 rung-build thread pool):
    * NOT computeIfAbsent — an artifact's build may itself consult this
    * memo for a DIFFERENT key (an artifact built from another memoized
    * artifact of the same family), and a nested computeIfAbsent on one
    * ConcurrentHashMap throws "Recursive update" whenever the two keys
    * share a bin — a hash-dependent landmine the NullInputSpec tripped.
    * Builds therefore run OUTSIDE any map lock. Concurrent first-callers
    * of the SAME key are single-flighted through an `inflight` promise:
    * the first caller installs the promise and builds; later callers
    * block on it instead of duplicating the build (pre-r15 they each
    * built — deterministic waste, never wrongness; now the waste is gone
    * too, and its checkpoint no longer idles until session end). A
    * failed build completes the promise exceptionally (waiters see the
    * same error) and clears it, so the next caller retries. Nested
    * consultation of a DIFFERENT in-flight key simply blocks on that
    * key's builder — artifact dependencies are acyclic (one direction),
    * so no cycle and no deadlock; a build that consulted
    * its OWN key would self-deadlock here, but that was already broken
    * (infinite recursion) under the old code. */
  def getOrElseUpdate(s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_._1 eq s)
          inflight.keySet.removeIf(_._1 eq s)
          hooked.remove(s)
        }
      })
    }
    val key = (s, dir)
    val existing = entries.get(key)
    if (existing != null) return existing
    val promise = new java.util.concurrent.CompletableFuture[DataFrame]()
    val prior = inflight.putIfAbsent(key, promise)
    if (prior != null) {
      // another thread is building this key right now — wait for its
      // result; unwrap so callers see the builder's own exception type
      try prior.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    } else {
      try {
        // a completed build may have landed between the entries.get miss
        // and winning the inflight slot — serve it rather than rebuild
        val landed = entries.get(key)
        val res =
          if (landed != null) landed
          else {
            val built = build
            val prev = entries.putIfAbsent(key, built)
            if (prev != null) prev else built
          }
        promise.complete(res)
        res
      } catch {
        case e: Throwable => promise.completeExceptionally(e); throw e
      } finally inflight.remove(key)
    }
  }

  def clear(): Unit = entries.clear()
}
