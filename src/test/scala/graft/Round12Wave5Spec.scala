package graft

import graft.queries.EventQueries
import org.apache.spark.sql.functions._

/** Property pins for the round-12 wave-5 operators — planted
  * hand-computed cases and plain-Scala/BigDecimal recomputations,
  * independent of each operator's own plan.
  */
class Round12Wave5Spec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def round(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  private def variantOf(u: Long): Long =
    java.lang.Long.parseLong(md5hex(s"${u}#ab").substring(0, 14), 16) % 2

  test("uplift: planted cells give the textbook Welch estimate and ranking") {
    val u0 = (1L to 200L).find(variantOf(_) == 0).get
    val u1 = (1L to 200L).find(variantOf(_) == 1).get
    // type t: control (10, 12) → m0 = 11, var 2; treatment (20, 24) →
    // m1 = 22, var 8; uplift 11, se² = 2/2 + 8/2 = 5
    // type s: flat — both arms (1, 3) → uplift 0, ranked below t
    val rows = Seq(
      ("t", u0, 10.0), ("t", u0, 12.0), ("t", u1, 20.0), ("t", u1, 24.0),
      ("s", u0, 1.0), ("s", u0, 3.0), ("s", u1, 1.0), ("s", u1, 3.0))
      .toDF("event_type", "user_id", "value")
    val r = EventQueries.upliftFinish(EventQueries.upliftCells(rows))
      .collect().map(x => x.getAs[String]("event_type") -> x).toMap
    val t = r("t")
    assert(t.getAs[Double]("m0_r") == 11.0 && t.getAs[Double]("m1_r") == 22.0)
    assert(t.getAs[Double]("uplift_r") == 11.0)
    assert(t.getAs[Double]("se_r") == round(math.sqrt(5.0), 6))
    assert(t.getAs[Double]("z_r") == round(11.0 / math.sqrt(5.0), 6))
    assert(t.getAs[Long]("rnk") == 1L && r("s").getAs[Long]("rnk") == 2L)
    assert(r("s").getAs[Double]("uplift_r") == 0.0)
  }

  test("item pmi: matches a plain-Scala capped recomputation") {
    val ratings = graft.tables.Tables.events(spark, sf)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val capped: Seq[(Long, Long)] = ratings.groupBy(_._1).toSeq.flatMap {
      case (u, its) =>
        its.map(_._2).sortBy(i => (md5hex(s"${u}#cf${i}"), i))
          .take(EventQueries.CfUserCap).map(u -> _)
    }
    val nu = capped.map(_._1).distinct.size.toDouble
    val ni = capped.groupBy(_._2).map { case (i, xs) => i -> xs.size.toLong }
    val cooc = scala.collection.mutable.HashMap[(Long, Long), Long]()
    capped.groupBy(_._1).values.foreach { xs =>
      val items = xs.map(_._2).sorted
      for (a <- items; b <- items if a < b)
        cooc((a, b)) = cooc.getOrElse((a, b), 0L) + 1L
    }
    val expect = cooc.toSeq.filter(_._2 >= 2L).map { case ((a, b), c) =>
      val pmi = math.log(c.toDouble * nu / (ni(a).toDouble * ni(b)))
      (a, b) -> ((c, round(pmi, 6),
        round(math.max(pmi - math.log(EventQueries.PmiShift), 0.0), 6)))
    }.toMap
    val out = q("events_item_pmi").collect().map { r =>
      (r.getAs[Long]("item_a"), r.getAs[Long]("item_b")) ->
        ((r.getAs[Long]("cooc"), r.getAs[Double]("pmi_r"),
          r.getAs[Double]("sppmi_r")))
    }.toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size} pairs")
  }

  test("markov stationary: matches a BigDecimal power-iteration replica") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    def q9(d: Double): BD = BD.valueOf(d).setScale(9, RM.HALF_UP)
    val counts = q("events_markov")
      .select(col("from_type"), col("to_type"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tot = counts.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).sum }
    val p = counts.map { case (f, t, c) =>
      (f, t) -> q9(c.toDouble / tot(f)) }.toMap
    val states = tot.keys.toSeq.sorted
    var pi: Map[String, BD] =
      states.map(_ -> q9(1.0 / states.size)).toMap
    (1 to EventQueries.MarkovRounds).foreach { _ =>
      pi = states.map { t =>
        val sp = states.flatMap(f => p.get((f, t)).map(_.multiply(pi(f))))
        val s = if (sp.isEmpty) BD.ZERO else sp.reduce(_.add(_))
        t -> q9(s.doubleValue)
      }.toMap
    }
    val expect = states.map(t => t -> round(pi(t).doubleValue, 6)).toMap
    val out = q("events_markov_stationary").collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("pi_r"), r.getAs[Long]("rnk")))).toMap
    assert(out.keySet == expect.keySet)
    expect.foreach { case (t, e) =>
      assert(out(t)._1 == e, s"$t: engine ${out(t)._1} vs local $e") }
    // π stays a distribution (all fixture types have outgoing edges)
    val mass = expect.values.sum
    assert(math.abs(mass - 1.0) < 1e-3, s"stationary mass $mass")
    // ranks are the 1..k permutation ordered by (−π, type)
    val byRank = out.toSeq.sortBy(_._2._2).map(_._1)
    val sorted = out.toSeq.sortBy { case (t, (p0, _)) => (-p0, t) }.map(_._1)
    assert(byRank == sorted)
  }

  test("dedup impact: agrees with source_report's near-dup accounting") {
    val impact = q("pipeline_dedup_impact").cache()
    assert(impact.filter(col("tokens_kept") > col("tokens_total") ||
      col("n_kept") > col("n_docs")).count() == 0L)
    // a source whose every doc is represented elsewhere keeps nothing
    // — savings exactly 1.0 is legitimate (9 fixture sources hit it)
    assert(impact.filter(col("savings_r") < 0.0 ||
      col("savings_r") > 1.0).count() == 0L)
    // kept = own representative ⇔ NOT near-dup: n_docs − n_kept must
    // equal pipeline_source_report's independent n_neardup per source
    val report = q("pipeline_source_report")
      .select(col("source"), col("n_neardup"))
    val j = impact.join(report, "source")
    assert(j.filter(col("n_docs") - col("n_kept") =!= col("n_neardup"))
      .count() == 0L)
    // dedup genuinely removes something on the fixture
    assert(impact.agg(sum(col("n_docs") - col("n_kept"))).head().getLong(0) > 0L)
    impact.unpersist()
  }

  test("triplet eval: positives agree with centroid_sim; negatives are hardest") {
    val out = q("emb_triplet_eval").cache()
    assert(out.filter(col("neg_label") === col("label")).count() == 0L)
    // cos_pos matches emb_centroid_sim's independent own-centroid
    // cosine (6-dp vs 9-then-6-dp double rounding: ≤ 1e-6 apart)
    val cs = SparkEntry.queries("emb_centroid_sim")(spark, sf)
      .select(col("vec_id"), col("cos_centroid"))
    val j = out.join(cs, "vec_id")
    assert(j.filter(abs(col("cos_pos_r") - col("cos_centroid")) > 1e-6)
      .count() == 0L)
    // violation flag is consistent with the reported rounded cosines
    // away from the rounding boundary
    val away = out.filter(
      abs(col("cos_neg_r") + graft.queries.SimilarityQueries.TripletMargin
        - col("cos_pos_r")) > 1e-5)
    assert(away.filter(col("violated") =!=
      (col("cos_neg_r") + graft.queries.SimilarityQueries.TripletMargin
        > col("cos_pos_r"))).count() == 0L)
    // the fixture exercises both outcomes
    assert(out.select(col("violated")).distinct().count() == 2L)
    out.unpersist()
  }
}
