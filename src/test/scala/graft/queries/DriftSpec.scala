package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.Tables

/** Laws for the two-sided reset CUSUM (`events_drift`): the window
  * identity S⁺ = P − min(0, running-min P) must reproduce the
  * sequential max(0, S+d) recursion exactly, the chart must respect
  * its sign/reset structure, and the 5σ flag must fire (and only
  * fire) past the limit.
  */
class DriftSpec extends SparkSpec {

  private lazy val rows =
    EventQueries.queries("events_drift")(spark, sf).collect()

  private lazy val limits = {
    val e = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"))
    EventQueries.anomalyStats(e)
      .select(col("event_type"), round(col("mean"), 6).as("mu"),
              round(col("sd"), 6).as("sd"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
  }

  test("window identity reproduces the sequential reset recursion") {
    val values = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        t -> rs.sortBy(r => (r.getLong(2), r.getLong(1))).map(_.getDouble(3))
      }
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val (mu, sd) = limits(t)
      val kUp = BigDecimal("%.6f".format(mu + 0.5 * sd))
      val kDn = BigDecimal("%.6f".format(mu - 0.5 * sd))
      val got = rs.sortBy(r => (r.getLong(2), r.getLong(1)))
      var sUp = BigDecimal(0); var sDn = BigDecimal(0)
      values(t).zip(got).foreach { case (v, r) =>
        val x = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        sUp = (sUp + (x - kUp)).max(0)
        sDn = (sDn + (x - kDn)).min(0)
        assert(math.abs(r.getDouble(3) - sUp.toDouble) < 1e-6,
          s"$t up: ${r.getDouble(3)} vs $sUp")
        assert(math.abs(r.getDouble(4) - sDn.toDouble) < 1e-6,
          s"$t dn: ${r.getDouble(4)} vs $sDn")
      }
    }
  }

  test("chart structure: S⁺ ≥ 0, S⁻ ≤ 0, and both reset to zero somewhere") {
    rows.foreach { r =>
      assert(r.getDouble(3) >= -1e-9, r.toString)
      assert(r.getDouble(4) <= 1e-9, r.toString)
    }
    // the reset is the point of the chart: under in-control stretches
    // the statistic returns to its boundary instead of random-walking
    assert(rows.count(_.getDouble(3) == 0.0) > rows.length / 20)
    assert(rows.count(_.getDouble(4) == 0.0) > rows.length / 20)
  }

  test("is_drift is exactly the 5σ exceedance predicate") {
    rows.foreach { r =>
      val (_, sd) = limits(r.getString(0))
      val h = BigDecimal("%.6f".format(5.0 * sd)).toDouble
      val expect = r.getDouble(3) > h + 1e-9 || r.getDouble(4) < -h - 1e-9
      val expectLoose = r.getDouble(3) > h - 1e-9 || r.getDouble(4) < -h + 1e-9
      // tolerate only the exact-boundary ambiguity of the double echo
      assert(!r.getBoolean(5) || expectLoose, r.toString)
      assert(r.getBoolean(5) || !expect, r.toString)
    }
  }

  test("drift fires at this sf and is rare — the flag is informative") {
    val flagged = rows.count(_.getBoolean(5))
    assert(flagged > 0, "no drift flagged — limit vacuous at fixture size")
    assert(flagged < rows.length / 10, s"$flagged/${rows.length} flagged — limit always-on")
  }

  test("online stateful fold across micro-batches ≡ batch window identity") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
       r.getDouble(3), r.getDouble(4), r.getBoolean(5))
    val streamed = StreamingQueries.queries("stream_drift")(spark, sf)
      .collect().map(key).toSet
    assert(streamed == rows.map(key).toSet)
  }
}
