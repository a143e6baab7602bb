package graft

import graft.queries.{DedupQueries, EventQueries, SimilarityQueries, StatTestQueries}
import org.apache.spark.sql.functions._

/** Property pins for the round-12 wave-4 operators, each checked
  * against an INDEPENDENT local recomputation (plain-Scala md5 ranks,
  * BigDecimal sums) rather than the operator's own plan.
  */
class Round12Wave4Spec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def round(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  test("srm: planted arm counts give the textbook chi-square") {
    def variantOf(u: Long): Long =
      java.lang.Long.parseLong(md5hex(s"${u}#ab").substring(0, 14), 16) % 2
    val v0 = (1L to 200L).filter(variantOf(_) == 0).take(3)
    val v1 = (1L to 200L).find(variantOf(_) == 1).get
    // 3 vs 1 exposure: chi2 = (3−1)²/4 = 1.0, below the 3.84 alarm
    val rows = (v0.map(("t", _)) :+ (("t", v1)))
      .toDF("event_type", "user_id")
    val r = StatTestQueries.srmFinish(rows).collect().head
    assert(r.getAs[Long]("n0") == 3L && r.getAs[Long]("n1") == 1L)
    assert(r.getAs[Double]("chi2_r") == 1.0)
    assert(!r.getAs[Boolean]("srm_flag"))
    // full query: flag ≡ rounded statistic vs the shared critical
    // value, and arms partition the distinct exposures
    val out = q("events_srm").cache()
    assert(out.filter(col("srm_flag") =!=
      (col("chi2_r") > StatTestQueries.SrmCrit)).count() == 0L)
    val users = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
    assert(out.join(users, "event_type")
      .filter(col("n0") + col("n1") =!= col("nu")).count() == 0L)
    out.unpersist()
  }

  test("mix epochs: hand-computed plan on planted token counts") {
    // T = 500, B = 1000; √100 = 10, √400 = 20, S = 30:
    // a: w = 1/3, epochs = 1000·(10/30)/100 ≈ 3.333333 (uncapped),
    //    planned = floor(3.333…·100) = 333
    // b: w = 2/3, epochs = 1000·(20/30)/400 ≈ 1.666667, planned = 666
    val ts = Seq(("a", 100L), ("b", 400L)).toDF("source", "t_source")
    val m = DedupQueries.mixEpochsFinish(ts).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(m("a").getAs[Double]("epochs_r") == 3.333333)
    assert(m("a").getAs[Long]("planned_tokens") == 333L)
    assert(m("b").getAs[Double]("epochs_r") == 1.666667)
    assert(m("b").getAs[Long]("planned_tokens") == 666L)
    assert(!m("a").getAs[Boolean]("capped") && !m("b").getAs[Boolean]("capped"))
    // a tiny source under a huge sibling hits the repetition cap and
    // its plan clamps to MaxEpochs·T_s
    val ts2 = Seq(("tiny", 1L), ("big", 10000L)).toDF("source", "t_source")
    val m2 = DedupQueries.mixEpochsFinish(ts2).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(m2("tiny").getAs[Boolean]("capped"))
    assert(m2("tiny").getAs[Long]("planned_tokens") == 4L)
    // full query: weights sum to 1 (up to 9-dp rounding residue)
    val wsum = q("pipeline_mix_epochs").agg(sum(col("weight_r")))
      .head().getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-6, s"weights sum to $wsum")
  }

  test("ngram novelty: matches a plain-Scala set recomputation") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bigrams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 2) Seq.empty
      else w.sliding(2).map(p => p(0) + " " + p(1)).toSeq
    }
    def isTest(id: Long): Boolean =
      java.lang.Long.parseLong(
        md5hex(s"${id}#novel").substring(0, 14), 16) % 5 == 4
    val train: Set[String] = docs.collect {
      case (id, t) if !isTest(id) => bigrams(t)
    }.flatten.toSet
    val expect = docs.collect {
      case (id, t) if isTest(id) && bigrams(t).nonEmpty =>
        val gs = bigrams(t).toSet
        id -> ((gs.size.toLong, gs.count(g => !train.contains(g)).toLong))
    }.toMap
    val out = q("text_ngram_novelty").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_distinct_bigrams"), r.getAs[Long]("novel_bigrams"))))
      .toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size} rows")
    assert(expect.nonEmpty && expect.exists(_._2._2 > 0),
      "fixture should exercise both seen and novel bigrams")
  }

  test("bleu pairs: matches a plain-Scala clipped-precision recomputation") {
    val out = q("text_bleu_pairs").cache()
    assert(out.count() > 0)
    assert(out.filter(col("p1_r") < 0.0 || col("p1_r") > 1.0 ||
      col("p2_r") < 0.0 || col("p2_r") > 1.0 ||
      col("bleu2_r") < 0.0 || col("bleu2_r") > 1.0).count() == 0L)
    // recompute every emitted pair's clipped precisions, BP and BLEU-2
    // from the raw texts (the pair LIST comes from the shared lshEdges
    // artifact, which dedup_lsh_pairs' oracle certifies independently)
    val texts = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    def counts(ws: Seq[String]): Map[String, Long] =
      ws.groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    def clip(a: Map[String, Long], b: Map[String, Long]): (Long, Long) =
      (a.map { case (g, c) => math.min(c, b.getOrElse(g, 0L)) }.sum,
        a.values.sum)
    val bad = out.collect().filter { r =>
      val (wa, wb) = (texts(r.getAs[Long]("doc_a")), texts(r.getAs[Long]("doc_b")))
      val (m1, t1) = clip(counts(wa), counts(wb))
      val biA = wa.sliding(2).filter(_.size == 2).map(p => p(0) + " " + p(1)).toSeq
      val biB = wb.sliding(2).filter(_.size == 2).map(p => p(0) + " " + p(1)).toSeq
      val (m2, t2) = clip(counts(biA), counts(biB))
      val p1 = m1.toDouble / t1
      val p2 = if (t2 > 0) m2.toDouble / t2 else 0.0
      val bp = round(if (wa.size >= wb.size) 1.0
        else math.exp(1.0 - wb.size.toDouble / wa.size), 9)
      val bleu = round(bp * round(math.sqrt(p1 * p2), 9), 6)
      r.getAs[Double]("p1_r") != round(p1, 6) ||
        r.getAs[Double]("p2_r") != round(p2, 6) ||
        r.getAs[Double]("bleu2_r") != bleu
    }
    assert(bad.isEmpty, s"${bad.length} pairs diverge; first: ${bad.headOption}")
    out.unpersist()
  }

  test("item cf: matches a plain-Scala capped-cosine recomputation") {
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
    assert(ratings.groupBy(_._1).exists(_._2.size > EventQueries.CfUserCap),
      "the degree cap must genuinely bind on the fixture")
    val ni = capped.groupBy(_._2).map { case (i, xs) => i -> xs.size.toLong }
    val byUser = capped.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).sorted }
    val cooc = scala.collection.mutable.HashMap[(Long, Long), Long]()
    byUser.values.foreach { items =>
      for (a <- items; b <- items if a < b)
        cooc((a, b)) = cooc.getOrElse((a, b), 0L) + 1L
    }
    val sym = cooc.toSeq.flatMap { case ((a, b), c) =>
      Seq((a, b, c), (b, a, c)) }
    val expect = sym.groupBy(_._1).flatMap { case (a, xs) =>
      xs.map { case (_, b, c) =>
        (b, c, round(c.toDouble / math.sqrt(ni(a).toDouble * ni(b)), 6))
      }.sortBy { case (b, _, cos) => (-cos, b) }.take(5).zipWithIndex
        .map { case ((b, c, cos), idx) => (a, b) -> ((c, cos, idx + 1L)) }
    }
    val out = q("events_item_cf").collect().map { r =>
      (r.getAs[Long]("item_a"), r.getAs[Long]("item_b")) ->
        ((r.getAs[Long]("cooc"), r.getAs[Double]("cos_r"),
          r.getAs[Long]("rnk")))
    }.toMap
    assert(out == expect,
      s"engine=${out.size} local=${expect.size} top-5 rows")
  }

  test("mahalanobis ood: matches a BigDecimal recomputation and flags agree") {
    val out = q("emb_ood_mahalanobis").cache()
    assert(out.filter(col("ood_flag") =!=
      (col("md2_r") > SimilarityQueries.MahalCrit)).count() == 0L)
    val rows = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // per-(label, dim) moments over 9-dp-quantized inputs, exactly as
    // the engine computes them (BigDecimal sums, IEEE finish); labels
    // with n < 2 have no variance and are dropped by both sides
    val labelN = rows.groupBy(_._2).map { case (l, vs) => l -> vs.length }
    val xq = rows.filter(r => labelN(r._2) >= 2).map { case (v, l, e) =>
      (v, l, e.map(x => round(x.toDouble, 9))) }
    val cells = xq.groupBy(_._2).flatMap { case (l, vs) =>
      (0 until vs.head._3.length).map { d =>
        val col0 = vs.map(_._3(d))
        val n = col0.length
        val sx = col0.map(java.math.BigDecimal.valueOf)
          .reduce(_.add(_)).doubleValue
        val sx2 = col0.map(x => java.math.BigDecimal.valueOf(x)
          .multiply(java.math.BigDecimal.valueOf(x)))
          .reduce(_.add(_)).doubleValue
        val mu = sx / n
        val vr = (sx2 - sx * sx / n) / (n - 1)
        (l, d) -> ((mu, vr))
      }
    }
    val expect = xq.map { case (v, l, e) =>
      val md2 = e.zipWithIndex.map { case (x, d) =>
        val (mu, vr) = cells((l, d))
        if (vr > 0.0)
          java.math.BigDecimal.valueOf(round((x - mu) * (x - mu) / vr, 9))
        else java.math.BigDecimal.ZERO
      }.reduce(_.add(_)).doubleValue
      v -> round(md2, 6)
    }.toMap
    val got = out.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("md2_r")).toMap
    assert(got.keySet == expect.keySet)
    val worst = got.map { case (v, m) => math.abs(m - expect(v)) }.max
    assert(worst < 1e-6, s"max divergence $worst")
    // and in-distribution mass sits near the χ²(64) mean
    val meanMd2 = out.agg(avg(col("md2_r"))).head().getDouble(0)
    assert(meanMd2 > 40.0 && meanMd2 < 90.0, s"mean md² = $meanMd2")
    out.unpersist()
  }
}
