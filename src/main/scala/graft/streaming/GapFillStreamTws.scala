package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.streaming.GapFillStream.{In, Out}

/** Streaming LOCF gap-fill on Spark's modern arbitrary-state API
  * (`transformWithState`, Spark 4.x) — the structural twin of
  * [[GapFillStream]] (`flatMapGroupsWithState`), mirroring how
  * [[PseudoWindowTws]] twins [[PseudoWindow]] so both stateful APIs
  * cover the emit-on-time-passing resampler pattern symmetrically.
  *
  * Same state machine, but on engine-managed typed state instead of a
  * single value-state blob:
  *
  *   - `pending: MapState[Long, Partial]` — open hour → (count, exact
  *     decimal sum carried as a string, the [[CusumStream]] transport);
  *     per-entry map state the store can update point-wise, the same
  *     reason [[PseudoWindowTws]] uses MapState for its window counts.
  *   - `cursor: ValueState[Cursor]` — next unemitted grid hour plus
  *     the LOCF carry (last emitted rounded mean; `hasCarry=false`
  *     before the key's first observed hour).
  *   - element path: fold the event into `pending(hour)`; on a key's
  *     first row, seed the cursor at the grid origin and register the
  *     first timer at `origin + bucket − 1`.
  *   - timer path: drain every bucket whose end ≤ watermark — observed
  *     hours emit their rounded mean and refresh the carry, empty
  *     hours emit `cnt=0, is_gap=true` with the carried value — then
  *     re-arm at the new cursor's bucket end (strictly above the
  *     watermark after the drain, so the key re-fires on the next
  *     watermark advance even with no further events).
  *
  * Arithmetic is step-for-step identical to [[GapFillStream]] (exact
  * decimal partial sums, `setScale(4/6, HALF_UP)`), so the query twin
  * (`stream_gapfill_tws`) shares `stream_gapfill`'s oracle verbatim —
  * the hash match proves fmgws ≡ tws ≡ batch for this operator.
  */
class GapFillProcessor(gridOriginMs: Long, bucketMs: Long)
    extends StatefulProcessor[String, In, Out] {
  import GapFillStreamTws.{Cursor, Partial}

  @transient private var pending: MapState[Long, Partial] = _
  @transient private var cursor: ValueState[Cursor] = _

  private val HalfUp = scala.math.BigDecimal.RoundingMode.HALF_UP

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getMapState[Long, Partial](
      "pending", Encoders.scalaLong, Encoders.product[Partial], TTLConfig.NONE)
    cursor = getHandle.getValueState[Cursor](
      "cursor", Encoders.product[Cursor], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[In],
                               timers: TimerValues): Iterator[Out] = {
    if (!cursor.exists()) {
      cursor.update(Cursor(gridOriginMs, hasCarry = false, 0.0))
      getHandle.registerTimer(gridOriginMs + bucketMs - 1)
    }
    rows.foreach { r =>
      val h = r.tsMs - r.tsMs % bucketMs
      val p = if (pending.containsKey(h)) pending.getValue(h) else Partial(0L, "0")
      val v4 = BigDecimal(r.value).setScale(4, HalfUp)
      pending.updateValue(h, Partial(p.cnt + 1L, (BigDecimal(p.sum) + v4).toString))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[Out] = {
    val wm = timers.getCurrentWatermarkInMs()
    val cur = cursor.get()
    val out = Seq.newBuilder[Out]
    var next = cur.next
    var hasCarry = cur.hasCarry
    var carry = cur.carry
    while (next + bucketMs - 1 <= wm) {
      if (pending.containsKey(next)) {
        val p = pending.getValue(next)
        val sv = BigDecimal(p.sum).toDouble
        val avg = BigDecimal(sv / p.cnt).setScale(6, HalfUp).toDouble
        hasCarry = true
        carry = avg
        pending.removeKey(next)
        out += Out(key, next, p.cnt, is_gap = false, avg)
      } else {
        out += Out(key, next, 0L, is_gap = true,
          if (hasCarry) carry else null)
      }
      next += bucketMs
    }
    cursor.update(Cursor(next, hasCarry, carry))
    getHandle.registerTimer(next + bucketMs - 1)
    out.result().iterator
  }
}

object GapFillStreamTws {

  /** Open hour → (count, exact decimal sum as string). Top-level so
    * Spark can derive a product encoder for the MapState value.
    */
  case class Partial(cnt: Long, sum: String)

  /** next = first unemitted grid hour; carry = last emitted rounded
    * mean, valid only when hasCarry (a key emits gaps with NULL until
    * its first observed hour).
    */
  case class Cursor(next: Long, hasCarry: Boolean, carry: Double)

  /** Event-time LOCF grid: input must carry a watermark upstream of
    * the groupByKey (timers fire as the watermark passes bucket ends).
    */
  def grid(in: Dataset[In], gridOriginMs: Long,
           bucketMs: Long = 3600000L): Dataset[Out] = {
    implicit val outEnc = Encoders.product[Out]
    in.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new GapFillProcessor(gridOriginMs, bucketMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
