package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sensor.Sensors

/** Structured-Streaming twin of the reference's `TimingExplorer` job
  * (/root/reference/src/main/java/com/ververica/jobs/TimingExplorer.java:43-154):
  * self-paced source → sawtooth/sine keyed series → union →
  * event-time 1 s tumbling count + raw-points branch, fanned out to
  * multiple sinks with per-batch metrics.
  *
  * Source mapping (SURVEY.md §2 #1): `rate-micro-batch` emits a fixed
  * number of rows per micro-batch from a fixed start timestamp, so
  * event time is a pure function of the offset `value` — the
  * reference's checkpointed virtual clock (TimestampSource.java:44-65)
  * becomes engine-managed offset state, and restart-resume works with
  * no custom state at all. `rowsPerBatch` pacing ≙ PERIOD_MS=100 self
  * pacing; jitter is wall-clock observability theater and is not
  * reproduced (SURVEY.md §7.3).
  */
object SensorStream {

  /** The generator pipeline on a streaming source:
    * [[graft.sensor.Sensors.pointsOf]] driven by the rate-micro-batch
    * offset — the batch twin's algebra, verbatim.
    */
  def sensorPointsStream(spark: SparkSession, rowsPerBatch: Int = 10): DataFrame =
    Sensors.pointsOf(spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", Sensors.T0Ms)
      .option("advanceMillisPerBatch", rowsPerBatch * Sensors.PeriodMs)
      .load())

  /** Event-time 1 s tumbling count ≙ PseudoWindow(eventTime=true)
    * (SURVEY.md §2 #8): watermark-gated append-mode emission is the
    * watermark-triggered timer; state purge is engine-managed.
    * `window.end − 1 ms` reproduces the reference's endOfWindow
    * emission timestamp (PseudoWindow.java:82,96).
    */
  def eventTimeWindowCounts(points: DataFrame, durationMs: Long = 1000L): DataFrame =
    points
      .withWatermark("ts", "0 seconds")
      .groupBy(col("key"), window(col("ts"), s"$durationMs milliseconds"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("key"),
              (unix_millis(col("window.end")) - 1).as("window_end_ms"),
              col("cnt"))

  /** Three-branch sink fan-out ≙ the reference's sensors /
    * eventsPerSecond / eventsProcessedPerSecond measurements
    * (TimingExplorer.java:83-103): one foreachBatch persists the batch
    * once and writes each branch, instead of three separate queries
    * re-reading the source.
    */
  def startFanOut(points: DataFrame, outDir: String, checkpointDir: String): StreamingQuery = {
    points
      // per-batch metrics ≙ eventTimeLag histogram + datapoints counter
      // (InfluxDBSink.java:38-39, SawtoothFunction.java:33): observe()
      // piggybacks the aggregation on the batch's own pass — no second
      // job, no driver-side collect blocking the trigger loop. Values
      // surface in each StreamingQueryProgress.observedMetrics
      // ("sensor_metrics"), printed by StreamDemo's listener.
      .observe("sensor_metrics",
        max(unix_millis(current_timestamp()) - col("ts_ms")).as("max_lag_ms"),
        count(lit(1)).as("datapoints"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select("key", "ts_ms", "value")
          .write.mode("append").parquet(s"$outDir/sensors")
      }
      .start()
  }
}
