package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.Tables

/** Population Stability Index (`events_psi`): from-scratch scalar
  * recomputation of the frozen-reference-edges chain, the zero/
  * monotone properties of the metric, and the 12-dp term margin.
  */
class PsiSpec extends SparkSpec {

  private lazy val rows = Tables.events(spark, sf)
    .filter(col("value").isNotNull)
    .select(col("event_type"), col("event_id"), col("ts_ms"), col("value"))
    .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  /** The full scalar chain for one series against an externally
    * frozen split (the query splits on the GLOBAL min/max midpoint,
    * not per series): (n_ref, n_cur, psi, terms).
    */
  private def psiOf(rs: Seq[(Long, Long, Double)],
                    tSplitOpt: Option[Long] = None): (Long, Long, Double, Seq[Double]) = {
    val ts = rs.map(_._2)
    val tSplit = tSplitOpt.getOrElse(Math.floorDiv(ts.min + ts.max, 2L))
    val (ref, cur) = rs.partition(_._2 <= tSplit)
    val sortedRef = ref.sortBy(r => (r._3, r._1))
    val n = sortedRef.size
    val edges = (1 to 9).flatMap { b =>
      val rk = b * n / 10
      if (rk >= 1) Some(sortedRef(rk - 1)._3) else None
    }.sorted
    def bin(x: Double) = 1 + edges.count(x > _)
    val rb = (1 to 10).map(b => ref.count(r => bin(r._3) == b))
    val cb = (1 to 10).map(b => cur.count(r => bin(r._3) == b))
    val terms = (0 until 10).map { i =>
      val p = (rb(i) + 0.5) / (ref.size + 5.0)
      val q = (cb(i) + 0.5) / (cur.size + 5.0)
      (p - q) * math.log(p / q)
    }
    val psi = terms.map(t => BigDecimal(t)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    (ref.size.toLong, cur.size.toLong, psi, terms)
  }

  test("per-series PSI equals a from-scratch scalar recomputation") {
    val got = EventQueries.queries("events_psi")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
         r.getAs[Double]("psi_r"), r.getAs[Boolean]("is_drift"))).toMap
    val byType = rows.groupBy(_._1)
    assert(got.keySet === byType.keySet)
    val globalSplit = Some(
      Math.floorDiv(rows.map(_._3).min + rows.map(_._3).max, 2L))
    byType.foreach { case (t, rs) =>
      val (nr, nc, psi, _) = psiOf(rs.map(r => (r._2, r._3, r._4)), globalSplit)
      assert(got(t)._1 === nr, s"$t n_ref")
      assert(got(t)._2 === nc, s"$t n_cur")
      assert(got(t)._3 ===
        BigDecimal(psi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$t psi")
      assert(got(t)._4 === (psi > 0.2), s"$t drift flag")
    }
  }

  test("metric properties: zero on self, monotone under injected shift") {
    val (t, rs0) = rows.groupBy(_._1).head
    val rs = rs0.map(r => (r._2, r._3, r._4))
    val (_, _, psiBase, _) = psiOf(rs)
    // identical halves → PSI ≈ 0 (smoothing-only residue from count
    // imbalance; exact 0 when counts match)
    val ts = rs.map(_._2)
    val tSplit = Math.floorDiv(ts.min + ts.max, 2L)
    val mirrored = rs.filter(_._2 <= tSplit).flatMap { r =>
      Seq(r, (r._1 + 1000000L, tSplit + (r._2 - ts.min) + 1L, r._3))
    }
    val (_, _, psiSelf, _) = psiOf(mirrored)
    assert(math.abs(psiSelf) < 1e-6, s"self-PSI $psiSelf should vanish")
    // shifting the current half by +2σ-ish must inflate PSI well past base
    val shifted = rs.map(r => if (r._2 > tSplit) (r._1, r._2, r._3 + 50.0) else r)
    val (_, _, psiShift, _) = psiOf(shifted)
    assert(psiShift > math.max(psiBase * 5, 0.2),
      s"shifted PSI $psiShift should dwarf base $psiBase")
  }

  test("12-dp term quantization margin clears 1-ulp ln divergence") {
    val globalSplit = Some(
      Math.floorDiv(rows.map(_._3).min + rows.map(_._3).max, 2L))
    val margins = rows.groupBy(_._1).values.flatMap { rs =>
      psiOf(rs.map(r => (r._2, r._3, r._4)), globalSplit)._4.filter(_ != 0.0).map { v =>
        val frac = BigDecimal(v).*(BigDecimal(1000000000000L))
          .remainder(BigDecimal(1)).abs.toDouble
        (math.min(frac, 1.0 - frac) / 1e12, math.ulp(v))
      }
    }
    val (minDist, maxUlp) = (margins.map(_._1).min, margins.map(_._2).max)
    assert(minDist > 100 * maxUlp,
      s"12-dp term margin $minDist too close to ulp $maxUlp")
  }
}
