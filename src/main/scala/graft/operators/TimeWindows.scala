package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tumbling-window aggregation — the reference's core operator
  * (`PseudoWindow`, /root/reference/src/main/java/com/ververica/functions/PseudoWindow.java:33-100).
  *
  * The reference hand-rolls per-key MapState + timers; in Spark the
  * same semantics are a hash-partitioned groupBy over a derived window
  * column — one shuffle on (key, window), partial (map-side) count
  * before the exchange, state handled by the engine. At 100 TB this is
  * the plan you want: HashAggregate(partial) → Exchange → HashAggregate(final),
  * AQE-coalesced partitions, no per-key driver state.
  */
object TimeWindows {

  /** endOfWindow = ts − ts % duration + duration − 1, the reference's
    * exact floor formula (PseudoWindow.java:82). Kept in epoch-ms long
    * math so results are bit-exact against any oracle.
    */
  def endOfWindowMs(tsMs: Column, durationMs: Long): Column =
    tsMs - (tsMs % durationMs) + lit(durationMs - 1)

  def startOfWindowMs(tsMs: Column, durationMs: Long): Column =
    tsMs - (tsMs % durationMs)

  /** Per-key tumbling COUNT ≙ PseudoWindow(eventTime=true).
    * Output: key, window_end_ms, cnt — one row per (key, window),
    * window_end_ms follows the reference's endOfWindow convention
    * (= window start + duration − 1 ms).
    */
  def tumblingCount(df: DataFrame, keyCol: String, tsMsCol: String,
                    durationMs: Long): DataFrame =
    df.groupBy(
        col(keyCol),
        endOfWindowMs(col(tsMsCol), durationMs).as("window_end_ms"))
      .agg(count(lit(1)).as("cnt"))
}
