package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark main: every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, fully materialized through the `noop` sink
  * (computes every output column — `count()` would let Catalyst prune
  * the projections being measured). The full per-query map is written
  * to `bench_out.json`; stdout carries one compact JSON line
  * ([[stdoutLine]]) — sbt log prefixes made a log-mixed stdout line
  * unparseable for the round-1 reader.
  *
  * `bench_out.json` also records `stream_queries`, the number of
  * streaming queries the run started.
  *
  * Failures are NOT swallowed into a fake timing: a failed query
  * reports -1 and lands in `"failed"` so a broken query can never
  * look like a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the run for targeted
    // re-measures under the exact Bench harness (same warm-up, same
    // alphabetical order, cache cleared between queries). Subset runs
    // do NOT overwrite bench_out.json — only full runs are keepers.
    val only = Harness.only(sys.env.get("SPARK_GRAFT_BENCH_QUERIES"),
      SparkEntry.queries.keySet)
    val cpus = Harness.cpus(4)
    val spark = Harness.session(cpus)
    // streaming queries the run starts (every bounded replay is one);
    // onQueryStarted runs synchronously inside start()
    val streamQueries = new java.util.concurrent.atomic.AtomicInteger()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streamQueries.incrementAndGet()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    // Warm the session before measuring: scheduler, parquet reader,
    // whole-stage codegen, window exec, and the BigDecimal path all
    // JIT/initialize on first use — without this the alphabetically
    // first query (ann_topk_bruteforce) absorbs ~4 s of one-time cost
    // that is session startup, not query cost.
    try {
      import org.apache.spark.sql.functions._
      Harness.noop(SparkEntry.entry(spark))
      val v = array((0 until 64).map(i => lit(i / 64.0f)): _*)
      Harness.noop(spark.range(2000)
        .select(graft.functions.VectorOps.dotDecimal(v, v).as("d")))
      // The shared key-ordered split dirs of events and documents (one
      // read-sort-write each per JVM) are harness setup, not cost of
      // whichever stream_* query runs first.
      Seq("events", "documents").foreach(graft.queries.StreamingQueries.split(spark, sfDir, _))
    } catch { case _: Throwable => () }
    // Each query runs `reps` times; bench_out.json records the
    // per-query median plus the [min,max] spread.
    val reps = Harness.benchReps
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .map { name =>
      val (med, lo, hi) = Harness.reps(reps) {
        try Harness.runOnce(spark, name, sfDir)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      // any failed rep fails the query — a crash must never hide
      // behind two healthy medianmates
      val median = if (lo < 0) -1.0 else med
      System.err.println(f"[bench] $name%-30s ${median}%9.3f s" +
        (if (reps > 1) f"  [${lo}%.3f..${hi}%.3f]" else ""))
      (name, median, lo, hi)
    }
    val failed = results.collect { case (k, v, _, _) if v < 0 => k }
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
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs$spread,"sf":"$sfDir","failed":$fj,"stream_queries":${streamQueries.get}}"""
    if (only.isEmpty) {
      Files.writeString(Paths.get("bench_out.json"), fullLine + "\n")
      // The driver benches at TWO core counts and the second run used
      // to overwrite the first's bench_out.json, blinding its scaling
      // comparison (VERDICT r17 item 2) — keep a per-cpus copy too.
      Files.writeString(Paths.get(s"bench_out_c$cpus.json"), fullLine + "\n")
    }
    println(stdoutLine(total, reps, results.size, failed, sfDir,
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
