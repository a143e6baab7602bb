package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-query materialized pipeline artifacts (VERDICT r3 item 1).
  *
  * A 100 TB pipeline does not recompute its dedup graph per consumer:
  * component labels, LSH keep decisions, and ANN index columns
  * (bucket / list assignments) are TABLES, materialized once and read
  * by every downstream stage. This memo models that posture inside
  * the one-JVM harness: the first query that needs an artifact builds
  * it and `localCheckpoint`s the result (eager — blocks live in the
  * block manager OUTSIDE the catalog cache, so the harness's
  * per-query `spark.catalog.clearCache()` does not evict them);
  * every later consumer in the same session reads the materialized
  * frame. On a cluster the same call sites write/read a reliable
  * checkpoint or a warehouse table.
  *
  * Keyed by (session, data dir, artifact name): Verify/Bench use one
  * session + one dir, ScaleBench times two dirs — their artifacts
  * never alias. [[clear]] drops the memo (ScaleBench calls it before
  * each timing so the scaling curve keeps measuring FULL per-query
  * cost; the amortized build-vs-marginal split is measured explicitly
  * by [[graft.IndexBench]]). Dropped frames' checkpoint blocks are
  * released by the ContextCleaner once unreferenced.
  *
  * Single-writer-per-key via the synchronized memo; concurrent specs
  * sharing a session get the same frame.
  */
object Artifacts {

  private val cache =
    scala.collection.mutable.HashMap[(SparkSession, String, String), AnyRef]()

  /** Test-only: when true, [[materialized]] returns the raw build —
    * no memo, no localCheckpoint — and [[memoized]] builds on every
    * call (each stream twin replays its own ingest), so plan-shape
    * assertions sweep the FULL inline build (a checkpointed artifact
    * shows up as an opaque LogicalRDD scan and would blind
    * Exchange/hint sweeps to regressions inside the build). Never set
    * outside tests.
    */
  @volatile private[graft] var passthrough = false

  /** The memoized, materialized artifact `key` for (s, dir) — built
    * (and eagerly localCheckpoint'ed) on first request.
    *
    * The (possibly multi-stage) build runs OUTSIDE the map lock, so a
    * slow build never convoys unrelated artifact requests; under a
    * genuine race two threads may build the same artifact and the
    * loser's copy is discarded (harmless — same deterministic data,
    * extra blocks freed by the ContextCleaner). The map itself is
    * bounded by dirs × artifact names in practice; ScaleBench clears
    * it per timing.
    */
  def materialized(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    if (passthrough) build else memoized(s, dir, key)(build.localCheckpoint())

  /** The memoized value `key` for (s, dir), built on first request —
    * the one memo behind [[materialized]] and the streaming ingest
    * (`StreamingQueries.ingest`), with the same keying, race posture
    * and [[clear]] lifecycle. Under [[passthrough]] nothing is
    * memoized: every request builds.
    */
  private[queries] def memoized[A <: AnyRef](s: SparkSession, dir: String, key: String)(
      build: => A): A = {
    if (passthrough) return build
    val k = (s, dir, key)
    cache.synchronized(cache.get(k)) match {
      case Some(v) => v.asInstanceOf[A]
      case None =>
        val built = build
        cache.synchronized(cache.getOrElseUpdate(k, built)).asInstanceOf[A]
    }
  }

  private val scalarCache =
    scala.collection.mutable.HashMap[(SparkSession, String, String), Long]()

  /** Memoized scalar statistic for (s, dir) — e.g. the corpus row
    * count, which a warehouse keeps as a catalog statistic with the
    * table rather than recounting per consumer query. Same keying and
    * clear() lifecycle as the frame memo.
    */
  def scalar(s: SparkSession, dir: String, key: String)(build: => Long): Long = {
    val k = (s, dir, key)
    scalarCache.synchronized(scalarCache.get(k)) match {
      case Some(v) => v
      case None =>
        val v = build
        scalarCache.synchronized(scalarCache.getOrElseUpdate(k, v))
    }
  }

  /** Drop all memoized artifacts (the next request rebuilds). */
  def clear(): Unit = {
    cache.synchronized(cache.clear())
    scalarCache.synchronized(scalarCache.clear())
  }

  /** Drop one (session, dir)'s artifacts — call when done with a data
    * dir (e.g. a ScaleBench temp dir) so the memo doesn't pin its
    * localCheckpoint blocks for the session's lifetime: the memo holds
    * strong DataFrame references, and the ContextCleaner only releases
    * checkpoint blocks once those are unreachable.
    */
  def clearDir(s: SparkSession, dir: String): Unit = {
    cache.synchronized {
      cache.keysIterator.filter(k => k._1 == s && k._2 == dir).toList
        .foreach(cache.remove)
    }
    scalarCache.synchronized {
      scalarCache.keysIterator.filter(k => k._1 == s && k._2 == dir).toList
        .foreach(scalarCache.remove)
    }
  }
}
