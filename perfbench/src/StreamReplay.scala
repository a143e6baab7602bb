package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.queries.Artifacts

/** `stream_replay`: one client runs the sampled `stream_*` twins of
  * `SparkEntry.queries` back to back (closed loop), each written to the
  * `noop` sink, in whole passes over the sample, as many as fit in the
  * run length at a nominal pass time. The `Artifacts` memo is kept
  * for a whole pass, so the first member of a family builds the shared
  * state and the others read it.
  */
object StreamReplay {

  /** The sampled twins, one group per `Artifacts` family, picked by
    * measured cost (`bench_out_c8.json`, sf0.1, one pass: the 96 twins
    * cost 136.8 s, median 1.414 s). The family is the shared-state one
    * whose cost per twin is closest to that median
    * (`stream_kruskal_wallis` 0.928 s + `stream_brown_forsythe` 1.836 s,
    * sharing `stream_kw_cells`); the singleton is the twin closest to it
    * (`stream_did`, 1.419 s). The sample costs 4.18 s, 3.1% of the twin
    * bill, for 3.1% of the twins. A second singleton made a run too long
    * for the benchmark's time budget on a loaded host.
    */
  val Sample: Seq[Seq[String]] = Seq(
    Seq("stream_kruskal_wallis", "stream_brown_forsythe"),
    Seq("stream_did"))

  /** The seed orders the groups. It picks neither the members (drawing
    * them per seed spread the medians 20-40% between seeds) nor which
    * family member runs first and builds the shared state (shuffling
    * that spread the median 30% between seeds on a quiet host): the
    * first listed member builds it.
    */
  def sample(seed: Long): Seq[Seq[String]] = new scala.util.Random(seed).shuffle(Sample)

  /** Untimed passes over the sample before the timed ones. */
  val WarmPasses = 2

  /** Seconds a timed pass takes on a quiet 4-vCPU host. The run length
    * sets the number of timed passes at this rate, so every run of one
    * length times the same queries however loaded the host is: passes
    * counted against the clock gave 2 passes on a loaded host and 3 on a
    * quiet one, and a median over 6 or 9 queries that weighs the slower
    * first pass differently.
    */
  val NominalPassS = 6.0

  def run(spark: SparkSession, a: Harness.Args, tracer: Option[Tracer],
          raw: mutable.Map[String, Any]): Unit = {
    val qs = SparkEntry.queries
    val groups = sample(a.seed)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def reset(): Unit = { spark.catalog.clearCache(); Artifacts.clear() }

    // Set-up: untimed passes over the sample, each from the same state as
    // a timed pass. The first writes each result for the oracle check and
    // materializes the split source dirs the twins replay. Together they
    // warm the JIT and Spark's code caches: a first pass runs 2-4x slower
    // than later ones, and with one warm pass the first timed pass still
    // ran ~1.3x slower, by an amount that depends on the order the seed
    // picks.
    for (pass <- 1 to WarmPasses) {
      for (name <- groups.flatten) {
        spark.catalog.clearCache()
        try {
          val df = qs(name)(spark, a.data)
          if (pass == 1) df.coalesce(1).write.mode("overwrite")
            .parquet(a.work.resolve("out").resolve(name).toString)
          else noop(df)
        } catch { case e: Throwable => System.err.println(s"warm-up $name failed: $e") }
      }
      reset()
    }
    raw("setup_s") = Harness.sinceJvmStart()

    val fds0 = Harness.openFds()
    val dirs0 = Harness.scratchDirs()
    val views0 = Harness.streamOutViews(spark).size
    val gc0 = Harness.gcSeconds()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()

    /** One timed operation. */
    def op(name: String, group: Int, pass: Int, traced: Option[Tracer]): Unit = {
      spark.catalog.clearCache()
      val id = s"$name#${ops.size}"
      val t0 = System.nanoTime()
      val err =
        try {
          traced match {
            case None => noop(qs(name)(spark, a.data))
            case Some(t) => t.span("op", id, 0) { root =>
              val df = t.span("queries.build", id, root)(_ => qs(name)(spark, a.data))
              t.span("spark.plan", id, root)(_ => df.queryExecution.executedPlan)
              t.span("spark.exec", id, root)(_ => noop(df))
            }
          }
          None
        } catch { case e: Throwable => Some(e.toString.take(300)) }
      val wall = (System.nanoTime() - t0) / 1e9
      ops += Map("name" -> name, "id" -> id, "group" -> group, "pass" -> pass,
        "traced" -> traced.isDefined,
        "wall_s" -> wall, "ok" -> err.isEmpty, "error" -> err.getOrElse(""))
    }

    // Whole passes keep every query's share of the samples the same in
    // every run. The memo starts empty in each pass. A traced run
    // measures each group twice, traced and untraced in alternating
    // order from the same starting state, so their ratio is the
    // tracing overhead; it makes half the passes to take as long.
    val passes = math.max(1, math.round(a.seconds / NominalPassS / (if (a.trace) 2 else 1)).toInt)
    for (pass <- 0 until passes) {
      for ((group, gi) <- groups.zipWithIndex) tracer match {
        case None => group.foreach(name => op(name, gi, pass, None))
        case Some(t) =>
          for (traced <- if (gi % 2 == 0) Seq(false, true) else Seq(true, false)) {
            if (traced) t.attach()
            group.foreach(name => op(name, gi, pass, if (traced) Some(t) else None))
            if (traced) t.detach()
            reset()
          }
      }
      reset()
    }

    raw("ops") = ops.toList
    raw("leak") = Map(
      "open_fds_delta" -> (Harness.openFds() - fds0),
      "temp_views" -> (Harness.streamOutViews(spark).size - views0),
      "scratch_dirs" -> (Harness.scratchDirs() - dirs0))
    raw("jvm_gc_s") = Harness.gcSeconds() - gc0
    raw("retained_heap_mb") = Harness.retainedHeapMb()
    val names = groups.flatten.distinct
    raw("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }
}
