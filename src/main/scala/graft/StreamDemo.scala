package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{PseudoWindow, SensorStream, StateInspect}

/** Live twin of running the reference's `TimingExplorer` job
  * (/root/reference/src/main/java/com/ververica/jobs/TimingExplorer.java:45-107):
  * self-paced 10 ev/s sensor source → keyed sawtooth/sine series →
  * event-time 1 s windowed counts (append) + raw-points fan-out,
  * checkpointed every trigger, with observe() metrics standing in for
  * the datapoints counter / eventTimeLag histogram
  * (SawtoothFunction.java:33, InfluxDBSink.java:38-39). After the
  * bounded run, the checkpoint is inspected offline ≙ ChangeBackend.
  *
  * Usage: graft.StreamDemo [runSeconds] (default 8)
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSeconds = args.headOption.map(_.toInt).getOrElse(8)
    val spark = Harness.session(4)

    val outDir = Ephemeral.dir("graft-demo-out-").toString
    val ckptRaw = Ephemeral.dir("graft-demo-ckpt-raw-").toString
    val ckptWin = Ephemeral.dir("graft-demo-ckpt-win-").toString
    val ckptProc = Ephemeral.dir("graft-demo-ckpt-proc-").toString
    println(s"[demo] sinks: $outDir  checkpoints: $ckptRaw | $ckptWin")

    val points = SensorStream.sensorPointsStream(spark, rowsPerBatch = 10)

    // Branch 1 ≙ `sensors` measurement: raw points with lag metrics.
    val rawQuery = SensorStream.startFanOut(points, outDir, ckptRaw)

    // Branch 2 ≙ `eventsPerSecond`: event-time windowed counts with an
    // observe() metric ≙ the datapoints counter.
    val windowed = SensorStream.eventTimeWindowCounts(points)
      .observe("win_metrics", count(lit(1)).as("windows_emitted"),
               sum(col("cnt")).as("events_counted"))
    val winQuery = windowed.writeStream
      .outputMode("append")
      .queryName("events_per_second")
      .option("checkpointLocation", ckptWin)
      .trigger(Trigger.ProcessingTime("1 second"))
      .format("memory")
      .start()

    // Branch 3 ≙ `eventsProcessedPerSecond` (PseudoWindow with
    // eventTime=false, TimingExplorer.java:97-103): wall-clock windows
    // over the same points — counts depend on where batch boundaries
    // land, so they JITTER around 20/s (both keys) while the
    // event-time branch stays exactly 10 per key per second. The
    // jitter is the reference demo's whole point (its README's two
    // golden charts); see README "Processing-time vs event-time" for a
    // recorded run.
    implicit val pEnc = org.apache.spark.sql.Encoders.product[PseudoWindow.Point]
    val procPts = points
      .select(col("key"), col("ts_ms").as("tsMs"), col("value"), col("ts"))
      .as[PseudoWindow.Point](pEnc)
    val procQuery = PseudoWindow.processingTime(procPts, 1000L).toDF()
      .writeStream
      .outputMode("append")
      .queryName("events_processed_per_second")
      .option("checkpointLocation", ckptProc)
      .trigger(Trigger.ProcessingTime("1 second"))
      .format("memory")
      .start()

    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val om = e.progress.observedMetrics
        if (om.containsKey("win_metrics")) {
          val m = om.get("win_metrics")
          println(s"[demo] batch=${e.progress.batchId} windows=${m.getAs[Long]("windows_emitted")} events=${m.getAs[Long]("events_counted")} wm=${e.progress.eventTime.get("watermark")}")
        }
        if (om.containsKey("sensor_metrics")) {
          val m = om.get("sensor_metrics")
          println(s"[demo] batch=${e.progress.batchId} datapoints=${m.getAs[Long]("datapoints")} maxLagMs=${m.getAs[Any]("max_lag_ms")}")
        }
      }
    })

    Thread.sleep(runSeconds * 1000L)
    // The offline inspection below reads the window query's last
    // committed batch; a short run can reach this point mid-way through
    // the first one, so wait (bounded) for a commit-log entry.
    def committed = Option(new java.io.File(ckptWin, "commits").list())
      .exists(_.exists(_.forall(_.isDigit)))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!committed && System.nanoTime() < deadline) Thread.sleep(200)
    rawQuery.stop(); winQuery.stop(); procQuery.stop()

    val emitted = spark.table("events_per_second")
    println(s"[demo] emitted windows (expect cnt=10 per key per second):")
    emitted.orderBy("window_end_ms", "key").show(12, truncate = false)
    val bad = emitted.filter(col("cnt") =!= 10).count()
    println(s"[demo] windows with cnt != 10: $bad (event-time determinism holds iff 0)")

    // Processing-time counts: per wall-clock second across both keys —
    // expected to JITTER (≠ flat 20) because batch boundaries are
    // wall-clock, exactly the reference demo's golden-image contrast.
    val proc = spark.table("events_processed_per_second")
      .groupBy(col("windowEndMs")).agg(sum(col("cnt")).as("events"))
      .orderBy("windowEndMs")
    println("[demo] processing-time windows (events per wall-clock second, both keys):")
    proc.show(12, truncate = false)

    if (committed) {
      println("[demo] offline state inspection (≙ ChangeBackend print):")
      StateInspect.stateMetadata(spark, ckptWin).show(truncate = false)
      StateInspect.keyedState(spark, ckptWin)
        .select(col("key.key").as("key"),
                unix_millis(col("key.window.start")).as("window_start_ms"),
                col("value.count").cast("long").as("cnt"))
        .orderBy("window_start_ms", "key")
        .show(8, truncate = false)
    } else println("[demo] the window query committed no batch: offline state inspection skipped")

    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
