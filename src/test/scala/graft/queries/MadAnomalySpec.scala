package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.Tables

/** MAD robust anomaly (`events_anomaly_mad`): scalar recomputation of
  * the median/MAD modified z-score, plus the 50%-breakdown property
  * that separates it from the μ/σ scorer.
  */
class MadAnomalySpec extends SparkSpec {

  private def rankMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    (s((n + 1) / 2 - 1) + s(n / 2)) / 2.0
  }

  test("modified z-scores equal a from-scratch scalar recomputation") {
    val rows = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val byType = rows.groupBy(_._2)
    val med = byType.view.mapValues(v => rankMedian(v.map(_._3))).toMap
    val mad = byType.map { case (t, v) =>
      t -> rankMedian(v.map(r => math.abs(r._3 - med(t))))
    }
    val got = EventQueries.queries("events_anomaly_mad")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("rz"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(got.size === rows.length)
    rows.sortBy(_._1).take(50).foreach { case (id, t, x) =>
      val rz = 0.6745 * (x - med(t)) / mad(t)
      val exp = BigDecimal(rz).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === exp, s"event $id")
      assert(got(id)._2 === (0.6745 * math.abs(x - med(t)) / mad(t) > 3.5))
    }
    // the cut actually fires both ways on the fixture
    assert(got.values.exists(_._2) && got.values.exists(!_._2))
  }

  test("breakdown property: outliers barely move med/MAD, drag mean/sd") {
    val xs = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("event_type") === "click")
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    val poisoned = xs ++ Seq.fill(xs.size / 10)(1e6) // 10% gross corruption
    def meanSd(v: Seq[Double]) = {
      val m = v.sum / v.size
      (m, math.sqrt(v.map(x => (x - m) * (x - m)).sum / v.size))
    }
    val (m0, s0) = meanSd(xs)
    val (m1, s1) = meanSd(poisoned)
    val (med0, med1) = (rankMedian(xs), rankMedian(poisoned))
    val mad0 = rankMedian(xs.map(x => math.abs(x - med0)))
    val mad1 = rankMedian(poisoned.map(x => math.abs(x - med1)))
    // mean/sd explode; med/MAD move by a bounded sliver
    assert(m1 - m0 > 1000 * math.abs(med1 - med0))
    assert(s1 - s0 > 1000 * math.abs(mad1 - mad0))
  }
}
