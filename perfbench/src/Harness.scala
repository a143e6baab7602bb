package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Sets up one session, runs one workload
  * through the program's public entry points and writes what it
  * measured to `<work>/raw.json` (and the spans to `<work>/trace.json`
  * when tracing). `perfbench/run.py` builds this, runs it, checks the
  * outputs against the DuckDB oracle and prints the metrics.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <workDir> <cores>
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, cores: Int)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), Paths.get(argv(5)), argv(6).toInt)
    val spark = session(a)
    val raw = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "seed" -> a.seed)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    a.workload match {
      case "stream_replay" => StreamReplay.run(spark, a, tracer, raw)
      case "sensor_live" => SensorLive.run(spark, a, tracer, raw)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(a.work.resolve("raw.json"), Json(raw))
    tracer.foreach(t => Files.writeString(a.work.resolve("trace.json"), Json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "spans" -> t.toJson))))
    spark.stop()
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds from JVM start to now: set-up as a user pays it. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def openFds(): Int = {
    val s = Files.list(Paths.get("/proc/self/fd"))
    try s.count().toInt finally s.close()
  }

  /** Heap still in use after full collections, repeated while the used
    * heap keeps falling: Spark's ContextCleaner frees unreachable cached
    * and checkpointed blocks on its own thread after the collection that
    * finds them, so one collection leaves a varying share of them.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var before = collect()
    var after = collect()
    var rounds = 2
    while (rounds < 10 && after < before - (1L << 20)) {
      before = after; after = collect(); rounds += 1
    }
    after / 1048576.0
  }

  def streamOutViews(spark: SparkSession): Seq[String] =
    spark.sqlContext.tableNames().filter(_.startsWith("stream_out_")).toSeq

  /** A new, empty directory under the run's work dir. */
  def freshDir(work: Path, prefix: String): Path =
    Files.createTempDirectory(Files.createDirectories(work), prefix + "-")

  /** Scratch directories the program left under its Ephemeral root. */
  def scratchDirs(): Int = {
    val s = Files.list(graft.Ephemeral.base)
    try s.count().toInt finally s.close()
  }
}
