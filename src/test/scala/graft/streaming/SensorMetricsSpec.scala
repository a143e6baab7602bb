package graft.streaming

import graft.{Ephemeral, SparkSpec}
import graft.sensor.Sensors

/** Pins the per-batch metrics the live sensor job observes — the
  * reference's `datapoints` counter and `eventTimeLag` gauge
  * (InfluxDBSink.java:38-39,52-53,75) — as `StreamingQueryProgress`
  * reports them under `sensor_metrics`.
  */
class SensorMetricsSpec extends SparkSpec {

  test("each fan-out batch reports its datapoints and event-time lag") {
    val out = Ephemeral.dir("graft-sensor-metrics-out-")
    val ckpt = Ephemeral.dir("graft-sensor-metrics-ckpt-")
    try {
      val q = SensorStream.startFanOut(
        SensorStream.sensorPointsStream(spark), out.toString, ckpt.toString)
      def observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("sensor_metrics")))
      try {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (observed.size < 3 && System.nanoTime() < deadline) {
          assert(q.exception.isEmpty, q.exception.map(_.getMessage).getOrElse(""))
          Thread.sleep(200)
        }
        // stop between triggers, so every batch the sink holds has
        // reported its progress
        while (q.status.isTriggerActive) Thread.sleep(5)
      } finally q.stop()
      val metrics = observed
      assert(metrics.size >= 3, s"only ${metrics.size} batches reported sensor_metrics")
      // 2 keys × 10 ticks per rate-micro-batch trigger
      assert(metrics.map(_.getAs[Long]("datapoints")).toSet == Set(20L))
      val sunk = spark.read.parquet(out.resolve("sensors").toString).count()
      assert(metrics.map(_.getAs[Long]("datapoints")).sum == sunk)
      // event time starts at T0 and advances 1 s per trigger, so every
      // batch lags wall time by about now − T0
      val floor = System.currentTimeMillis() - Sensors.T0Ms - 60000L
      metrics.foreach(m => assert(m.getAs[Long]("max_lag_ms") >= floor))
    } finally Seq(out, ckpt).foreach(Ephemeral.deleteTree)
  }
}
