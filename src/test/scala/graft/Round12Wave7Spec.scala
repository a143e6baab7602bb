package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

/** Property pins for the round-12 wave-7 operator: a BigDecimal
  * replica of the HITS mutual-reinforcement iteration plus its
  * structural invariants (max-normalization, zero scores off the
  * edge support).
  */
class Round12Wave7Spec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def round9(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  test("hits: matches a BigDecimal replica of the h/a iteration") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val edges = DedupQueries.lshEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val verts = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))

    // one half-step: decimal(14)-quantized contributions summed per
    // key, max-normalized, 9-dp requantized — the engine's contract
    def half(scores: Map[Long, Double], proj: ((Long, Long)) => (Long, Long))
        : Map[Long, Double] = {
      val sums = scala.collection.mutable.HashMap[Long, BD]()
      edges.foreach { e =>
        val (from, to) = proj(e)
        val c = BD.valueOf(scores(from)).setScale(14, RM.HALF_UP)
        sums(to) = sums.getOrElse(to, BD.ZERO).add(c)
      }
      val s = sums.view.mapValues(_.doubleValue).toMap
      val mx = if (s.isEmpty || s.values.max == 0.0) 1.0 else s.values.max
      verts.map(v => v -> round9(s.getOrElse(v, 0.0) / mx)).toMap
    }

    var auth: Map[Long, Double] = verts.map(_ -> 1.0).toMap
    var hub: Map[Long, Double] = Map.empty
    (1 to 3).foreach { _ =>
      hub = half(auth, { case (a, b) => (b, a) })  // h(a) ← Σ a(b)
      auth = half(hub, { case (a, b) => (a, b) })  // a(b) ← Σ h(a)
    }

    val out = q("graph_hits").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("hub"), r.getAs[Double]("auth")))).toMap
    assert(out.size == verts.length)
    assert(out == verts.map(v => v -> ((hub(v), auth(v)))).toMap)
  }

  test("hits: max-normalized scores, zero off the edge support") {
    val out = q("graph_hits").cache()
    val stats = out.agg(max(col("hub")).as("mh"), max(col("auth")).as("ma"),
      min(col("hub")).as("nh"), min(col("auth")).as("na")).head()
    assert(stats.getDouble(0) == 1.0 && stats.getDouble(1) == 1.0,
      "some hub and some authority must sit at the normalization cap")
    assert(stats.getDouble(2) >= 0.0 && stats.getDouble(3) >= 0.0)
    // a doc that never appears as a star-edge source has hub 0;
    // never as a destination → auth 0
    val e = DedupQueries.lshEdges(spark, sf).cache()
    val noHub = out.join(e.select(col("doc_a").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    assert(noHub.filter(col("hub") =!= 0.0).count() == 0)
    val noAuth = out.join(e.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    assert(noAuth.filter(col("auth") =!= 0.0).count() == 0)
    e.unpersist(); out.unpersist()
  }

  test("benford: frozen expectations are log10(1+1/d) at 9 dp and sum to 1") {
    graft.queries.StatTestQueries.BenfordExp.foreach { case (d, p) =>
      assert(math.abs(p - math.log10(1.0 + 1.0 / d)) < 5e-10,
        s"digit $d literal $p")
    }
    val s = graft.queries.StatTestQueries.BenfordExp.map(_._2).sum
    assert(math.abs(s - 1.0) < 1e-8)
  }

  test("benford: matches a local integer-math replica of counts and chi2") {
    val rows = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val counts = scala.collection.mutable.HashMap[(String, Int), Long]()
    rows.foreach { case (t, v) =>
      val m = java.math.BigDecimal.valueOf(math.abs(v) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      if (m > 0) {
        val d = m.toString.head.asDigit
        counts((t, d)) = counts.getOrElse((t, d), 0L) + 1L
      }
    }
    val types = counts.keys.map(_._1).toSet
    val exp = graft.queries.StatTestQueries.BenfordExp.toMap
    val expect = types.flatMap { t =>
      val n = (1 to 9).map(d => counts.getOrElse((t, d), 0L)).sum
      val chi2 = (1 to 9).map { d =>
        val e = n.toDouble * exp(d)
        val c = counts.getOrElse((t, d), 0L).toDouble
        java.math.BigDecimal.valueOf((c - e) * (c - e) / e)
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }.reduce(_.add(_)).doubleValue
      (1 to 9).map(d => (t, d) ->
        ((counts.getOrElse((t, d), 0L), chi2)))
    }.toMap
    val out = q("events_benford").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getAs[Double]("chi2_r")))).toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size}")
  }

  test("importance weights: local replica, clip bound, ESS ≤ N") {
    def r9(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val cnt = graft.tables.Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = cnt.values.sum; val l = cnt.size
    val w = cnt.map { case (lang, nl) =>
      lang -> math.min(r9(n.toDouble / (l * nl).toDouble), 10.0) }
    val s1 = cnt.map { case (lang, nl) =>
      java.math.BigDecimal.valueOf(nl.toDouble * w(lang))
        .setScale(9, java.math.RoundingMode.HALF_UP) }
      .reduce(_.add(_)).doubleValue
    val s2 = cnt.map { case (lang, nl) =>
      java.math.BigDecimal.valueOf(nl.toDouble * w(lang) * w(lang))
        .setScale(9, java.math.RoundingMode.HALF_UP) }
      .reduce(_.add(_)).doubleValue
    val essLocal = java.math.BigDecimal.valueOf(s1 * s1 / s2)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val out = q("pipeline_importance_weights").collect()
    assert(out.length == l)
    out.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(1) == cnt(lang))
      assert(r.getAs[Double]("w_r") == w(lang))
      assert(r.getAs[Double]("w_r") <= 10.0)
      assert(r.getAs[Double]("ess_r") == essLocal)
    }
    // reweighting can only lose effective data, never gain it
    assert(out.head.getAs[Double]("ess_r") <= n.toDouble + 1e-6)
  }

  test("ljungbox: recomposes from the engine's own acf panel") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val acf = q("events_acf").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Double]("acf"))
      .toMap
    val lb = q("events_ljungbox").collect()
    assert(lb.nonEmpty)
    lb.foreach { r =>
      val (t, n, m) = (r.getString(0), r.getLong(1), r.getLong(2))
      val lags = acf.keys.filter(_._1 == t).map(_._2)
        .filter(_ < n).toSeq.sorted
      assert(m == lags.length)
      val tsum = lags.map { k =>
        BD.valueOf(acf((t, k)) * acf((t, k)) / (n - k).toDouble)
          .setScale(12, RM.HALF_UP)
      }.reduce(_.add(_)).doubleValue
      val qLocal = BD.valueOf(n.toDouble * (n + 2).toDouble * tsum)
        .setScale(6, RM.HALF_UP).doubleValue
      assert(r.getAs[Double]("q_r") == qLocal, s"type $t")
      val crit = m match {
        case 1 => 3.841459; case 2 => 5.991465
        case 3 => 7.814728; case _ => 9.487729
      }
      assert(r.getAs[Boolean]("lb_flag") == (qLocal > crit))
      assert(qLocal >= 0.0)
    }
  }

  test("runs test: matches a local replica of the hourly sign-run walk") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val ev = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"),
        (col("ts_ms") - col("ts_ms") % 3600000L).as("hour_ms"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.toString.toDouble)))
    val hourly = ev.groupBy(x => (x._1, x._2)).map { case ((t, h), xs) =>
      val vs = xs.flatMap(_._3)
      val y = if (vs.isEmpty) None else Some(
        BD.valueOf(vs.map(BD.valueOf(_).setScale(4, RM.HALF_UP))
          .reduce(_.add(_)).doubleValue / xs.length)
          .setScale(9, RM.HALF_UP))
      (t, h, y)
    }.toSeq
    val expect = hourly.groupBy(_._1).map { case (t, rows) =>
      val n = rows.length
      val ybar = rows.flatMap(_._3).reduce(_.add(_)).doubleValue / n
      val sgns = rows.sortBy(_._2).flatMap(_._3)
        .map(_.doubleValue).filter(_ != ybar).map(y => if (y > ybar) 1 else 0)
      val runs = if (sgns.isEmpty) 0L
        else 1L + sgns.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      val n1 = sgns.count(_ == 1).toLong; val n2 = sgns.count(_ == 0).toLong
      val z: Option[Double] = if (n1 > 0 && n2 > 0) {
        val (d1, d2, nn) = (n1.toDouble, n2.toDouble, (n1 + n2).toDouble)
        val mu = 2.0 * d1 * d2 / nn + 1.0
        val sig2 = (2.0 * d1 * d2 * (2.0 * d1 * d2 - d1 - d2)) /
          (nn * nn * (nn - 1.0))
        Some(BD.valueOf((runs.toDouble - mu) / math.sqrt(sig2))
          .setScale(6, RM.HALF_UP).doubleValue)
      } else None
      t -> ((runs, n1, n2, z))
    }
    val out = q("events_runs_test").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size}")
  }

  test("cluster purity: recounts the vote from the shared assignment") {
    val asg = graft.queries.SimilarityQueries
      .trainedAssigned(spark, sf).select(col("vec_id"), col("list_id"))
      .join(graft.tables.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label")), "vec_id")
      .collect().map(r => (r.getAs[Number]("list_id").longValue,
        r.getAs[Number]("label").longValue))
    val byCluster = asg.groupBy(_._1)
    val out = q("emb_cluster_purity").collect()
    assert(out.map(_.getLong(1)).sum == asg.length) // every vector voted
    val overall = out.map(r =>
      (r.getAs[Long]("n_majority"), r.getAs[Long]("n"))).toSeq
    val expOverall = java.math.BigDecimal.valueOf(
        overall.map(_._1).sum.toDouble / overall.map(_._2).sum.toDouble)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    out.foreach { r =>
      val c = r.getAs[Number]("list_id").longValue
      val votes = byCluster(c).groupBy(_._2).view.mapValues(_.size).toMap
      val (lbl, cnt) = votes.toSeq.minBy { case (l, n) => (-n, l) }
      assert(r.getAs[Long]("n") == byCluster(c).length)
      assert(r.getAs[Number]("majority_label").longValue == lbl)
      assert(r.getAs[Long]("n_majority") == cnt.toLong)
      val pur = r.getAs[Double]("purity_r")
      assert(pur > 0.0 && pur <= 1.0)
      assert(r.getAs[Double]("overall_purity_r") == expOverall)
    }
  }

  test("cluster nmi: information-theoretic bounds hold") {
    val r = q("emb_cluster_nmi").collect().head
    val (hc, hl, mi, nmi) = (r.getAs[Double]("h_cluster"),
      r.getAs[Double]("h_label"), r.getAs[Double]("mi"),
      r.getAs[Double]("nmi"))
    assert(hc > 0.0 && hl > 0.0)
    // I(C;L) ≤ min(H(C), H(L)) up to the 6-dp quantization slack
    assert(mi >= -1e-6 && mi <= math.min(hc, hl) + 1e-5)
    assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-5)
    // same assignment as purity: a perfectly pure clustering would
    // have nmi near 1; either way both diagnostics must exist together
    assert(q("emb_cluster_purity").count() > 0)
  }

  test("cluster ari: matches a local pair-count replica") {
    val asg = graft.queries.SimilarityQueries
      .trainedAssigned(spark, sf).select(col("vec_id"), col("list_id"))
      .join(graft.tables.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label")), "vec_id")
      .collect().map(r => (r.getAs[Number]("list_id").longValue,
        r.getAs[Number]("label").longValue))
    def c2(x: Long): Double = x.toDouble * (x - 1).toDouble / 2.0
    val sCells = asg.groupBy(identity).values.map(v => c2(v.size)).sum
    val sRows = asg.groupBy(_._1).values.map(v => c2(v.size)).sum
    val sCols = asg.groupBy(_._2).values.map(v => c2(v.size)).sum
    val n = asg.length.toLong
    val exp = (sCells - sRows * sCols / c2(n)) /
      ((sRows + sCols) / 2.0 - sRows * sCols / c2(n))
    val r = q("emb_cluster_ari").collect().head
    assert(r.getLong(0) == n)
    val ari = r.getAs[Double]("ari_r")
    assert(math.abs(ari - exp) < 1e-6, s"engine $ari vs local $exp")
    assert(ari <= 1.0 + 1e-9)
  }

  test("jsd drift: matches a local replica and respects the ln2 bound") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5half(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${id}#jsd".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val counts = scala.collection.mutable.HashMap[String, (Long, Long)]()
    docs.foreach { case (id, text) =>
      val a = md5half(id)
      text.split(" ", -1).foreach { t =>
        val (ca, cb) = counts.getOrElse(t, (0L, 0L))
        counts(t) = if (a) (ca + 1, cb) else (ca, cb + 1)
      }
    }
    val na = counts.values.map(_._1).sum.toDouble
    val nb = counts.values.map(_._2).sum.toDouble
    val jsd = counts.values.map { case (ca, cb) =>
      val p = ca / na; val qq = cb / nb; val m = (p + qq) / 2.0
      val t = 0.5 * (if (ca > 0) p * math.log(p / m) else 0.0) +
        0.5 * (if (cb > 0) qq * math.log(qq / m) else 0.0)
      BD.valueOf(t).setScale(12, RM.HALF_UP)
    }.reduce(_.add(_)).doubleValue
    val r = q("text_jsd_drift").collect().head
    assert(r.getAs[Long]("vocab") == counts.size)
    assert(r.getAs[Long]("n_tokens_a") == na.toLong)
    assert(r.getAs[Long]("n_tokens_b") == nb.toLong)
    val engine = r.getAs[Double]("jsd_r")
    val local = BD.valueOf(jsd).setScale(6, RM.HALF_UP).doubleValue
    assert(engine == local, s"engine $engine vs local $local")
    assert(engine >= 0.0 && engine <= 0.6931472 + 1e-6)
  }

  test("interarrival: matches a local gap-moment replica, B in [-1,1]") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val ev = graft.tables.Tables.events(spark, sf)
      .select(col("event_type"), col("ts_ms"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = ev.groupBy(_._1).map { case (t, rows) =>
      val ts = rows.sortBy(r => (r._2, r._3)).map(_._2)
      val gaps = ts.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      val n = gaps.length.toDouble
      val s1 = gaps.sum.toDouble
      val s2 = gaps.map(g => BD.valueOf(g).multiply(BD.valueOf(g)))
        .reduce(_.add(_)).doubleValue
      val mean = s1 / n
      val varr = s2 / n - mean * mean
      val v = if (varr > 0.0) varr else 0.0
      def r6(d: Double) = BD.valueOf(d).setScale(6, RM.HALF_UP).doubleValue
      t -> ((gaps.length.toLong, r6(mean), r6(v / (mean * mean)),
        r6((math.sqrt(v) - mean) / (math.sqrt(v) + mean))))
    }
    val out = q("events_interarrival").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size}")
    out.values.foreach { case (_, _, cv2, b) =>
      assert(cv2 >= 0.0)
      assert(b >= -1.0 - 1e-9 && b <= 1.0 + 1e-9)
    }
  }

  test("intrinsic dim: recomposes from the engine's own knn graph") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    // independent route: take rank-1/rank-2 cosines from the already
    // hash-proven emb_knn_graph output and replay the two-NN MLE
    val g = q("emb_knn_graph").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rank"),
        r.getAs[Double]("cos_r")))
    val byQ = g.groupBy(_._1).view.mapValues(rs =>
      rs.sortBy(_._2).map(_._3)).toMap
    val dd = byQ.values.filter(_.length >= 2)
      .map(cs => (1.0 - cs(0), 1.0 - cs(1))).toSeq
    val used = dd.filter(_._1 > 0.0)
    val lsum = used.map { case (d1, d2) =>
      BD.valueOf(math.log(d2 / d1)).setScale(12, RM.HALF_UP) }
      .reduce(_.add(_)).doubleValue
    val expId = BD.valueOf(used.size.toDouble / lsum)
      .setScale(6, RM.HALF_UP).doubleValue
    val r = q("emb_intrinsic_dim").collect().head
    assert(r.getAs[Long]("n_pts") == dd.size)
    assert(r.getAs[Long]("n_used") == used.size)
    assert(r.getAs[Double]("id_r") == expId)
    // a 64-d space can't have a higher estimated dimension than 64
    // on this synthetic manifold (sanity band, not exact)
    assert(expId > 0.0 && expId < 200.0)
  }

  test("heaps law: monotone checkpoints and OLS recomposition") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val out = q("text_heaps_law").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Double]("beta_r"), r.getAs[Double]("lnk_r")))
      .sortBy(_._1)
    assert(out.length == 10)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4)
    }
    val totalVocab = graft.tables.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    assert(out.last._4 == totalVocab) // final checkpoint sees the corpus
    def r9(d: Double) = BD.valueOf(d).setScale(9, RM.HALF_UP).doubleValue
    val xs = out.toSeq.map(p => r9(math.log(p._3.toDouble)))
    val ys = out.toSeq.map(p => r9(math.log(p._4.toDouble)))
    def dsum(vs: Seq[Double], sc: Int) = vs.map(BD.valueOf(_)
      .setScale(sc, RM.HALF_UP)).reduce(_.add(_)).doubleValue
    val np = 10.0
    val (sx, sy) = (dsum(xs, 9), dsum(ys, 9))
    val sxy = dsum(xs.zip(ys).map { case (x, y) => x * y }, 12)
    val sxx = dsum(xs.map(x => x * x), 12)
    val beta = (sxy - sx * sy / np) / (sxx - sx * sx / np)
    val lnk = sy / np - beta * (sx / np)
    def r6(d: Double) = BD.valueOf(d).setScale(6, RM.HALF_UP).doubleValue
    assert(out.head._5 == r6(beta), s"beta ${out.head._5} vs ${r6(beta)}")
    assert(out.head._6 == r6(lnk))
    assert(beta > 0.0 && beta < 1.2) // Heaps exponent sanity band
  }
}
