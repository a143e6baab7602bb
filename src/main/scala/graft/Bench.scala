package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, fully materialized through the `noop` sink
  * (computes every output column — `count()` would let Catalyst prune
  * the projections being measured). The full per-query map is written
  * to `bench_out.json`; stdout carries one compact JSON line
  * ([[stdoutLine]]) — sbt log prefixes made a log-mixed stdout line
  * unparseable for the round-1 reader.
  *
  * Failures are NOT swallowed into a fake timing: a failed query
  * reports -1 and lands in `"failed"` so a broken query can never
  * look like a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE coalescing: at bench scale (sf0.1) most shuffles carry a
      // few MB — let runtime stats shrink the fan-out so task-schedule
      // overhead doesn't dominate; at cluster scale the same config
      // right-sizes reducers from real sizes. Both default-on in
      // Spark 4; set explicitly so the bench contract is visible.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session before measuring: scheduler, parquet reader,
    // whole-stage codegen, window exec, and the BigDecimal path all
    // JIT/initialize on first use — without this the alphabetically
    // first query (ann_topk_bruteforce) absorbs ~4 s of one-time cost
    // that is session startup, not query cost.
    try {
      import org.apache.spark.sql.functions._
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      val v = array((0 until 64).map(i => lit(i / 64.0f)): _*)
      spark.range(2000)
        .select(graft.functions.VectorOps.dotDecimal(v, v).as("d"))
        .write.format("noop").mode("overwrite").save()
      // Building the events stream materializes the shared time-ordered
      // split dir (one read-sort-write of events per JVM) — harness
      // setup, not cost of whichever stream_* query runs first.
      graft.queries.StreamingQueries.eventsStream(spark, sfDir)
      graft.queries.StreamingQueries.documentsStream(spark, sfDir)
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the run for targeted
    // re-measures under the exact Bench harness (same warm-up, same
    // alphabetical order, cache cleared between queries). Subset runs
    // do NOT overwrite bench_out.json — only full runs are keepers.
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd (or since-retired) name would silently yield a
    // zero-query run that still prints a healthy-looking total line
    // (ADVICE r13) — fail loudly instead.
    only.foreach { req =>
      val unknown = req.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, "SPARK_GRAFT_BENCH_QUERIES names match no " +
        s"query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // SPARK_GRAFT_BENCH_REPS=N (default 1) runs each query N times
    // and records the PER-QUERY MEDIAN (plus [min,max] spread in
    // bench_out.json). Three rounds of keeper forensics went to
    // ambient-interference triage — a co-scheduled build or GC spike
    // inflating single-shot rows on untouched code (VERDICT r12-r14);
    // the median of 3 makes one noisy rep structurally harmless.
    // Keeper runs use 3; the driver's default stays 1.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(1)
    require(reps >= 1, "SPARK_GRAFT_BENCH_REPS must be >= 1")
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val sec =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          }
        // cached frames (persist() inside query builders) must not
        // leak into the next rep's / query's measurement
        spark.catalog.clearCache()
        sec
      }
      // any failed rep fails the query — a crash must never hide
      // behind two healthy medianmates
      if (secs.exists(_ < 0)) failed += name
      val sorted = secs.sorted
      // true median: even rep counts average the two middle elements
      // (sorted(reps/2) alone biased every even-reps number high —
      // ADVICE r15)
      val median =
        if (secs.exists(_ < 0)) -1.0
        else if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      System.err.println(f"[bench] $name%-30s ${median}%9.3f s" +
        (if (reps > 1) f"  [${sorted.head}%.3f..${sorted.last}%.3f]" else ""))
      (name, median, sorted.head, sorted.last)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spread =
      if (reps > 1)
        // a failed rep's -1 sentinel is an error code, not a timing —
        // failed queries are listed in "failed", not given a fake
        // spread bound (ADVICE r15)
        results.collect { case (k, m, lo, hi) if m >= 0 =>
            "\"" + k + "\":[" + lo + "," + hi + "]"
          }.mkString(""","spread":{""", ",", "}")
      else ""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs$spread,"sf":"$sfDir","failed":$fj}"""
    if (only.isEmpty) {
      Files.writeString(Paths.get("bench_out.json"), fullLine + "\n")
      // The driver benches at TWO core counts and the second run used
      // to overwrite the first's bench_out.json, blinding its scaling
      // comparison (VERDICT r17 item 2) — keep a per-cpus copy too.
      Files.writeString(Paths.get(s"bench_out_c$cpus.json"), fullLine + "\n")
    }
    println(stdoutLine(total, reps, results.size, failed.toSeq, sfDir,
      results.collect { case (k, v, _, _) if v >= 0 => (k, v) }))
    spark.stop()
  }

  /** The one stdout line: total, query counts, sf, the failed names
    * and the slowest queries (3 dp, slowest first), cut to `budget`
    * chars. Bench's stdout is read from a ~2000-char tail capture, so
    * the full line (~10 KB at 428 queries) parsed to null; the
    * complete per-query map is in `bench_out.json`. Failed names come
    * first, then as many of the slowest queries as still fit;
    * `n_failed` and `n_queries` stay exact.
    */
  private[graft] def stdoutLine(total: Double, reps: Int, nQueries: Int,
                                failed: Seq[String], sf: String,
                                timings: Seq[(String, Double)],
                                budget: Int = 1500): String = {
    // Locale.ROOT: f"" interpolation uses the JVM default locale — a
    // comma-decimal locale (de_DE) would emit invalid JSON (ADVICE r10)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def line(fs: Seq[String], qs: Seq[(String, Double)]): String = {
      val qmap = qs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
      val fj = fs.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","reps":$reps,"n_queries":$nQueries,"n_failed":${failed.size},"queries":$qmap,"sf":"$sf","failed":$fj,"full_results":"bench_out.json"}"""
    }
    def fits(n: Int)(take: Int => String): Int =
      (0 to n).takeWhile(k => take(k).length <= budget).lastOption.getOrElse(0)
    val slowest = timings.sortBy(-_._2)
    val nf = fits(failed.size)(k => line(failed.take(k), Nil))
    val nq = fits(slowest.size)(k => line(failed.take(nf), slowest.take(k)))
    line(failed.take(nf), slowest.take(nq))
  }
}
