package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import graft.streaming.PseudoWindow.{Point, WindowCount, endOfWindow}

/** The reference window operator on Spark's modern arbitrary-state API
  * (`transformWithState`, Spark 4.x) — a LITERAL structural twin of
  * the Flink `KeyedProcessFunction`
  * (/root/reference/src/main/java/com/ververica/functions/PseudoWindow.java:33-100):
  *
  *   - `countInWindow: MapState[Long, Long]` ≙ the reference's
  *     `MapState<Long, Integer>` (PseudoWindow.java:34-36) — REAL
  *     engine-managed per-key map state, not a value-state blob like
  *     the `flatMapGroupsWithState` port (PseudoWindow.scala) must use.
  *   - element path (`handleInputRows` ≙ processElement :60-89):
  *     endOfWindow floor, increment map entry, `registerTimer(end)` ≙
  *     `ctx.timerService().registerEventTimeTimer(endOfWindow)`.
  *     (Registered once per window, on first increment — Flink's timer
  *     service dedups identical timestamps; Spark's is registered
  *     explicitly once.)
  *   - timer path (`handleExpiredTimer` ≙ onTimer :92-99): when the
  *     watermark passes a window's end, emit (key, end, count) and
  *     purge exactly that map entry.
  *
  * State is per-key-partitioned and O(open windows per key); the map
  * entries purge on emission exactly like the reference, and the
  * RocksDB state-store provider applies unchanged.
  */
class PseudoWindowProcessor(durationMs: Long)
    extends StatefulProcessor[String, Point, WindowCount] {

  @transient private var counts: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[Long, Long](
      "countInWindow", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[Point],
                               timers: TimerValues): Iterator[WindowCount] = {
    rows.foreach { p =>
      val end = endOfWindow(p.tsMs, durationMs)
      val cur = if (counts.containsKey(end)) counts.getValue(end) else 0L
      if (cur == 0L) getHandle.registerTimer(end)
      counts.updateValue(end, cur + 1L)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[WindowCount] = {
    val end = expired.getExpiryTimeInMs()
    if (counts.containsKey(end)) {
      val cnt = counts.getValue(end)
      counts.removeKey(end)
      Iterator.single(WindowCount(key, end, cnt))
    } else Iterator.empty
  }
}

object PseudoWindowTws {

  /** Event-time variant: input must carry a watermark upstream of the
    * groupByKey (the timer fires when the watermark passes the
    * window's end — exactly the Flink event-time timer contract).
    */
  def eventTime(points: Dataset[Point], durationMs: Long): Dataset[WindowCount] = {
    implicit val outEnc = Encoders.product[WindowCount]
    points.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new PseudoWindowProcessor(durationMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
