package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every main shares: the session conf, the timed run of one
  * query, the median over reps and the query-subset check. Each
  * decision lives here once, so Bench, ScaleBench, IndexBench and
  * RunQuery time the same region and every main runs under the same
  * session settings.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The one session conf: `local[cpus]` with as many shuffle
    * partitions, UTC, no UI, WARN logging.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
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
    spark
  }

  /** Fully materializes `df` through the `noop` sink — computes every
    * output column, where `count()` would let Catalyst prune the
    * projections being measured.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The timed region: build query `name` over `dir` and write it
    * through [[noop]]. The catalog cache is cleared afterwards, even
    * when the query fails, so frames a builder `persist()`s never
    * leak into the next run's measurement.
    */
  def runOnce(spark: SparkSession, name: String, dir: String): Double = {
    val fn = SparkEntry.queries(name)
    try seconds(noop(fn(spark, dir)))
    finally spark.catalog.clearCache()
  }

  /** True median: an even count averages the two middle elements
    * (taking `sorted(n / 2)` alone biased every even-reps number high
    * — ADVICE r15).
    */
  def median(xs: Seq[Double]): Double = {
    val sorted = xs.sorted
    val n = sorted.length
    if (n % 2 == 1) sorted(n / 2)
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
  }

  /** `SPARK_GRAFT_BENCH_REPS` (default 1): how many times Bench and
    * ScaleBench time each cell. Keeper runs use 3 — three rounds of
    * keeper forensics went to ambient-interference triage (a
    * co-scheduled build or GC spike inflating single-shot rows on
    * untouched code, VERDICT r12-r14), and the median of 3 makes one
    * noisy rep structurally harmless. The driver's default stays 1.
    */
  def benchReps: Int = {
    val n = sys.env.get("SPARK_GRAFT_BENCH_REPS").fold(1)(_.toInt)
    require(n >= 1, "SPARK_GRAFT_BENCH_REPS must be >= 1")
    n
  }

  /** Runs `run` `n` times in a row: (median, min, max) seconds. */
  def reps(n: Int)(run: => Double): (Double, Double, Double) = {
    val secs = Seq.fill(n)(run)
    (median(secs), secs.min, secs.max)
  }

  /** A comma-separated name subset (`None` = everything). Every name
    * must be in `known`: a typo'd or retired name would otherwise
    * select nothing and still report a healthy-looking run (ADVICE
    * r13).
    */
  def only(spec: Option[String], known: collection.Set[String]): Option[Set[String]] =
    spec.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"names match no query: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }
}
