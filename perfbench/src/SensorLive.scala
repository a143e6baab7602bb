package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sensor.Sensors
import graft.streaming.SensorStream

/** `sensor_live`: the reference's TimingExplorer job fed by a generator
  * thread on a fixed schedule (open loop) at the reference rate and at
  * one fixed high rate, then a closed-loop saturation phase.
  *
  * Event time is the reference's virtual clock (tick i at T0 + 100 ms·i),
  * so every 1 s event-time window holds exactly 10 events per key at
  * any generator rate. A window's latency runs from the scheduled
  * creation time of its last tick to the moment the sink receives its
  * row.
  */
object SensorLive {

  /** The reference operating point (TimingExplorer.java:118-119). */
  val RefRate = 10.0
  /** Sustainable at the commit that defined the benchmark (NOTES.md). */
  val HighRate = 1000.0
  /** Ticks per micro-batch in the saturation phase. */
  val SaturationRowsPerBatch = 100000
  /** Shares of the run length spent in each phase. The gated latencies
    * are the high rate's, so it gets the most time; the reference rate
    * runs long enough for its invariant check and a few latency samples.
    */
  val RefShare = 0.15
  val HighShare = 0.6
  /** Windows that close in the first second of a phase, while its new
    * queries start, give no latency sample (they are still checked).
    */
  private val LatencyFromNs = 1000000000L
  /** The generator adds due ticks at most this often. */
  private val MinAddGapNs = 5000000L

  private val WindowMs = 1000L
  private val TicksPerWindow = (WindowMs / Sensors.PeriodMs).toInt

  def run(spark: SparkSession, a: Harness.Args, tracer: Option[Tracer],
          raw: mutable.Map[String, Any]): Unit = {
    // The seed shifts event time by whole windows.
    val first = (a.seed % 100000).abs * TicksPerWindow
    // Set-up: one short pass of each phase warms the JIT, codegen and
    // the streaming engine; without the reference-rate pass its first
    // windows arrive up to 2x later, and after a 1 s high-rate pass the
    // high-rate latency still fell by 15% over the next 10 s.
    openLoop(spark, a.work, "warm-ref", RefRate, 2.0, first)
    openLoop(spark, a.work, "warm-high", HighRate, 6.0, first)
    saturation(spark, a.work, "warm", 1.0)
    raw("setup_s") = Harness.sinceJvmStart()

    val fds0 = Harness.openFds()
    val dirs0 = Harness.scratchDirs()
    val views0 = Harness.streamOutViews(spark).size
    val gc0 = Harness.gcSeconds()
    tracer.foreach(_.attach())
    def phase[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name, name, 0)(_ => body))
    val satSeconds = a.seconds * (1 - RefShare - HighShare)
    raw("ref") = phase("sensor.ref")(openLoop(spark, a.work, "ref", RefRate, a.seconds * RefShare, first))
    raw("high") = phase("sensor.high")(openLoop(spark, a.work, "high", HighRate, a.seconds * HighShare, first))
    tracer match {
      case None => raw("sat") = saturation(spark, a.work, "sat", satSeconds)
      case Some(t) =>
        // Saturation is measured untraced and traced; the ratio of their
        // rates is the tracing overhead.
        t.detach()
        raw("sat_untraced") = saturation(spark, a.work, "sat-u", satSeconds / 2)
        t.attach()
        raw("sat") = phase("sensor.sat")(saturation(spark, a.work, "sat", satSeconds / 2))
    }
    tracer.foreach(_.detach())
    raw("leak") = Map(
      "open_fds_delta" -> (Harness.openFds() - fds0),
      "temp_views" -> (Harness.streamOutViews(spark).size - views0),
      "scratch_dirs" -> (Harness.scratchDirs() - dirs0))
    raw("jvm_gc_s") = Harness.gcSeconds() - gc0
    raw("retained_heap_mb") = Harness.retainedHeapMb()
  }

  /** A copy of the column algebra of `SensorStream.sensorPointsStream`,
    * on ticks that arrive from the benchmark's generator: the program
    * builds its points only on the `rate-micro-batch` source and has no
    * function from a tick stream to points to call instead. A change to
    * that algebra in the program does not reach the open-loop phases.
    */
  private def points(ticks: DataFrame): DataFrame = {
    val base = ticks.select(col("value").as("i"),
        (lit(Sensors.T0Ms) + col("value") * Sensors.PeriodMs).as("ts_ms"))
      .withColumn("phase", Sensors.sawtoothPhase(col("i")))
    val temp = base.select(lit("temp").as("key"), col("ts_ms"), col("phase").as("value"))
    val pressure = base.select(lit("pressure").as("key"), col("ts_ms"),
      Sensors.sineWave(col("phase")).as("value"))
    temp.unionByName(pressure).withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  /** Window rows as the sink receives them: (key, window_end_ms, cnt,
    * receive nanoTime), and the highest window end received so far.
    */
  private final class Received(firstTick: Long) {
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
    val maxEnd = new AtomicLong(tickMs(firstTick) - 1)
  }

  private def tickMs(i: Long): Long = Sensors.T0Ms + i * Sensors.PeriodMs

  private def startWindows(points: DataFrame, ckpt: Path, got: Received): StreamingQuery =
    SensorStream.eventTimeWindowCounts(points)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        val now = System.nanoTime()
        rows.foreach { (r: Row) =>
          got.rows.add((r.getString(0), r.getLong(1), r.getLong(2), now))
          got.maxEnd.accumulateAndGet(r.getLong(1), math.max(_, _))
        }
      }
      .start()

  private def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)

  /** Checks windows against the reference invariant: each closed
    * window holds exactly 10 events per key, arrives once, and none up
    * to the last closed one is missing.
    */
  private def checkWindows(got: Seq[(String, Long, Long, Long)], firstTick: Long,
                           lastClosedEnd: Long): (Int, Int) = {
    val seen = got.groupBy(g => (g._1, g._2))
    val expected = (for {
      key <- Seq("temp", "pressure")
      end <- (tickMs(firstTick) + WindowMs - 1) to lastClosedEnd by WindowMs
    } yield (key, end)).toSet
    val bad = expected.count(k => seen.get(k).forall(rows => rows.size != 1 || rows.head._3 != TicksPerWindow)) +
      seen.keys.count(k => !expected.contains(k))
    (expected.size, bad)
  }

  /** Open loop: `rate` ticks per second for `seconds`, on a fixed
    * schedule that does not wait for the pipeline. Tick numbers start at
    * `first`, a multiple of the ticks per window.
    */
  def openLoop(spark: SparkSession, work: Path, tag: String, rate: Double, seconds: Double,
               first: Long): Map[String, Any] = {
    implicit val enc = Encoders.scalaLong
    val winSrc = MemoryStream[Long](spark, 1)
    val fanSrc = MemoryStream[Long](spark, 1)
    val got = new Received(first)
    val dir = Harness.freshDir(work, s"sensor-$tag")
    val winQ = startWindows(points(winSrc.toDF()), dir.resolve("ckpt-win"), got)
    val fanQ = SensorStream.startFanOut(points(fanSrc.toDF()),
      dir.resolve("fanout").toString, dir.resolve("ckpt-fan").toString)

    val n = math.max(TicksPerWindow + 1L, math.round(rate * seconds))
    val periodNs = 1e9 / rate
    val lateNs = mutable.ArrayBuffer[Long]()
    val backlog = mutable.ArrayBuffer[Long]()
    val start = System.nanoTime() + 20000000L
    def due(i: Long): Long = start + math.round(i * periodNs)
    var i = 0L
    var lastAdd = 0L
    while (i < n) {
      val wake = math.max(due(i), lastAdd + MinAddGapNs)
      var now = System.nanoTime()
      while (now < wake) { LockSupport.parkNanos(wake - now); now = System.nanoTime() }
      var j = i
      while (j < n && due(j) <= now) j += 1
      val batch = (first + i until first + j).toSeq
      winSrc.addData(batch)
      fanSrc.addData(batch)
      lateNs += now - wake
      // ticks generated but not yet covered by a received window
      backlog += first + j - (got.maxEnd.get + 1 - Sensors.T0Ms) / Sensors.PeriodMs
      lastAdd = now
      i = j
    }
    val genEnd = System.nanoTime()
    winQ.processAllAvailable()
    winQ.stop()
    fanQ.stop()
    Seq(winQ, fanQ).flatMap(_.exception).headOption.foreach(e => throw e)

    val rows = got.rows.asScala.toSeq
    val lastTs = tickMs(first + n - 1)
    val lastClosedEnd = Sensors.T0Ms + (lastTs - Sensors.T0Ms) / WindowMs * WindowMs - 1
    val (expected, bad) = checkWindows(rows, first, lastClosedEnd)
    val latencyMs = rows.flatMap { case (_, end, _, recv) =>
      val created = due((end + 1 - Sensors.T0Ms) / Sensors.PeriodMs - 1 - first)
      if (created - start < LatencyFromNs) None else Some((recv - created) / 1e6)
    }
    val progress = winQ.recentProgress.toSeq
    Map("rate" -> rate, "ticks" -> n, "gen_s" -> (genEnd - start) / 1e9,
      "windows_expected" -> expected, "windows_bad" -> bad,
      "latency_ms" -> latencyMs, "gen_late_ms" -> lateNs.map(_ / 1e6),
      "backlog_rows" -> backlog.toList,
      "input_rows" -> progress.map(_.numInputRows).sum,
      "trigger_s" -> progress.map(p => triggerMs(p)).sum / 1e3)
  }

  /** Closed loop: `SensorStream.sensorPointsStream` with a large batch,
    * each micro-batch started as soon as the previous one ends.
    */
  def saturation(spark: SparkSession, work: Path, tag: String, seconds: Double): Map[String, Any] = {
    val got = new Received(0)
    val dir = Harness.freshDir(work, s"sensor-$tag")
    val q = startWindows(SensorStream.sensorPointsStream(spark, SaturationRowsPerBatch),
      dir.resolve("ckpt"), got)
    // The first batch pays planning and codegen; the rate is taken over
    // the batches that complete in the `seconds` after it.
    while (q.lastProgress == null && q.isActive) Thread.sleep(5)
    val first = q.recentProgress.length
    Thread.sleep((seconds * 1000).toLong)
    val steady = q.recentProgress.toSeq.drop(first).filter(_.numInputRows > 0)
    q.stop()
    q.exception.foreach(e => throw e)
    val rows = got.rows.asScala.toSeq
    val lastClosedEnd = if (rows.isEmpty) tickMs(0) - 1 else rows.map(_._2).max
    val (expected, bad) = checkWindows(rows, 0, lastClosedEnd)
    Map("input_rows" -> steady.map(_.numInputRows).sum,
      "trigger_s" -> steady.map(p => triggerMs(p)).sum / 1e3,
      "batches" -> steady.size, "windows_expected" -> expected, "windows_bad" -> bad)
  }
}
