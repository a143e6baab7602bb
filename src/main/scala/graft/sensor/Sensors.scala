package graft.sensor

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sensor-stream generator — the batch twin of the
  * reference's generator pipeline
  * (/root/reference/src/main/java/com/ververica/jobs/TimingExplorer.java:109-152).
  *
  * Reference semantics reproduced exactly:
  *   - `TimestampSource`: tick i at ts = t0 + 100ms·i, t0 floored to a
  *     second boundary (sources/TimestampSource.java:56-57,68-76);
  *     self-pacing/jitter is wall-clock observability theater, not
  *     semantics, so the batch twin drops it (SURVEY.md §7.3).
  *   - `SawtoothFunction`: phase = (i mod numSteps)/numSteps
  *     (functions/SawtoothFunction.java:72-77). The reference keeps the
  *     step in checkpointed ListState; here it is a pure function of
  *     the tick index, so the state disappears.
  *   - `SineWaveFunction`: sin(2π·phase) (functions/SineWaveFunction.java:27-33).
  *   - `AssignKeyFunction`: constant keys "temp"/"pressure"
  *     (functions/AssignKeyFunction.java:24-36, TimingExplorer.java:137,144).
  *   - `union`: bag-semantics merge (TimingExplorer.java:148-149)
  *     = `unionByName` (UNION ALL).
  *
  * Everything is `spark.range`-based: narrow, codegen'd, no shuffle,
  * no state — scales linearly to any n on any cluster.
  */
object Sensors {
  /** 2024-01-01T00:00:00Z — already floored to a second boundary. */
  val T0Ms: Long = 1704067200000L
  val PeriodMs: Long = 100L   // 10 events/sec (TimingExplorer.java:118-119)
  val NumSteps: Int = 10      // sawtooth steps (TimingExplorer.java:131)
  val TwoPi: Double = 2.0 * math.Pi

  /** Sawtooth phase column ≙ SawtoothFunction. */
  def sawtoothPhase(i: Column, numSteps: Int = NumSteps): Column =
    (i % numSteps).cast("double") / numSteps

  /** Sine transform ≙ SineWaveFunction. */
  def sineWave(phase: Column): Column = sin(phase * TwoPi)

  /** The generator's column algebra on any tick frame whose long
    * `value` is the tick index (the rate sources' shape) ≙ the full
    * generateSensorData DAG: event time a pure function of the tick
    * index, the sawtooth and sine keyed series, and their union.
    * Output schema: key string, ts_ms long, value double, ts
    * timestamp(ms).
    */
  def pointsOf(ticks: DataFrame): DataFrame = {
    val base = ticks
      .select(col("value").as("i"),
              (lit(T0Ms) + col("value") * PeriodMs).as("ts_ms"))
      .withColumn("phase", sawtoothPhase(col("i")))
    val temp = base.select(lit("temp").as("key"), col("ts_ms"), col("phase").as("value"))
    val pressure = base.select(lit("pressure").as("key"), col("ts_ms"),
      sineWave(col("phase")).as("value"))
    temp.unionByName(pressure)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  /** The batch twin over ticks 0 until n: [[pointsOf]] of
    * `spark.range(n)`. Output schema: key string, ts timestamp(ms),
    * ts_ms long, value double.
    */
  def sensorPoints(spark: SparkSession, n: Long): DataFrame =
    pointsOf(spark.range(n).select(col("id").as("value")))
      .select(col("key"), col("ts"), col("ts_ms"), col("value"))
}
